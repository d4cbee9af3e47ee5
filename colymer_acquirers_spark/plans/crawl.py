"""Checkpointed crawl driver loop (SURVEY.md §2.10 Z3/Z4).

Reference analog: ``Acquirer.scan``'s persist-after-every-page checkpointing
(``colymer/acquirers/acquirer.py:54,71-74``) and crash-resume via
``get_recent_block`` adopt/splice (``:30-37,46-58``). The engine checkpoints
at round granularity: each round writes its five outputs under
``rounds/K/…`` and commits by writing ``manifest.json`` *last* — a crash
before the manifest leaves an uncommitted round that resume simply
recomputes. Rounds are strictly functional (no wall-clock, no randomness in
what a round computes; the manifest's ``phases_s`` timings only report),
so a resumed run reproduces identical ordering — the Z4 property the
resume test pins.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from colymer_acquirers_spark import schemas
from colymer_acquirers_spark.operators.seen import compact_seen
from colymer_acquirers_spark.operators.seen_bloom import TARGET_FPR, BloomSeen
from colymer_acquirers_spark.plans.round import (
    bootstrap_frontier,
    keyed_pages,
    run_round,
)
from colymer_acquirers_spark.sources.tables import (
    _replace_committed,
    read_table,
    write_table,
)


def _warm_parse_exprs(spark: SparkSession) -> None:
    """Pre-trigger the frozen parse/envelope expression trees on a one-row
    dummy: construction is ~10^3 py4j calls (~1 s serial driver time) and
    the first materialization pays one-time analysis/codegen/regex-compile
    (~3-4 s, measured) — both session-cached afterwards (lru_cache keys
    match the round's ("html", "canonical_url") usage). run_crawl runs
    this on a daemon thread so the cost overlaps round 0's early stages
    instead of sitting on the critical path. Pure optimization: failures
    are swallowed, nothing it computes is shared. A populated expr cache
    means the cost is already paid this session — skip instead of
    submitting a redundant job on every run_crawl call (test suites and
    resume flows call it dozens of times)."""
    try:
        from colymer_acquirers_spark.functions import parse_expr as _pe

        if _pe._parse_page_expr_cached.cache_info().currsize > 0:
            return
        from colymer_acquirers_spark.functions.envelope_expr import (
            envelope_expr,
        )
        from colymer_acquirers_spark.functions.parse_expr import (
            parse_page_expr,
        )

        dummy = spark.range(1).select(
            F.encode(
                F.lit(
                    '<html><head><title>w</title></head>'
                    '<body><p>w</p><a href="/x">x</a></body></html>'
                ),
                "utf-8",
            ).alias("html"),
            F.lit("https://warm.invalid/").alias("canonical_url"),
        )
        dummy.select(
            parse_page_expr("html", "canonical_url").alias("p"),
            envelope_expr("html", "canonical_url").alias("e"),
        ).collect()
    except Exception:
        pass


def _round_dir(workdir: str, k: int) -> str:
    return os.path.join(workdir, "rounds", str(k))


def _manifest_path(workdir: str, k: int) -> str:
    return os.path.join(_round_dir(workdir, k), "manifest.json")


def committed_rounds(workdir: str) -> list[int]:
    rounds_dir = os.path.join(workdir, "rounds")
    if not os.path.isdir(rounds_dir):
        return []
    out = []
    for name in os.listdir(rounds_dir):
        if name.isdigit() and os.path.exists(_manifest_path(workdir, int(name))):
            out.append(int(name))
    return sorted(out)


def read_manifest(workdir: str, k: int) -> dict:
    with open(_manifest_path(workdir, k)) as f:
        return json.load(f)


def read_output(spark: SparkSession, workdir: str, name: str, upto: int | None = None) -> DataFrame:
    """Union an output across committed rounds (e.g. all articles).

    ``seen_delta`` is a view over crawl_order (the fetched URLs ARE the seen
    delta — one write instead of two per round)."""
    if name == "seen_delta":
        co = read_output(spark, workdir, "crawl_order", upto)
        return co.select(F.col("url").alias("canonical_url"))
    schema = {
        "crawl_order": schemas.CRAWL_ORDER,
        "articles": None,
        "attachments_new": schemas.ATTACHMENTS_NEW,
        "lineage": schemas.LINEAGE,
        "frontier_next": schemas.FRONTIER,
    }[name]
    ks = committed_rounds(workdir)
    if upto is not None:
        ks = [k for k in ks if k <= upto]
    paths = [os.path.join(_round_dir(workdir, k), name) for k in ks]
    paths = [p for p in paths if os.path.exists(p)]
    if not paths:
        if schema is None:
            raise ValueError(f"no committed {name} outputs under {workdir}")
        return spark.createDataFrame([], schema)
    df = spark.read.parquet(*paths)
    return df


def _committed_compactions(workdir: str) -> list[int]:
    d = os.path.join(workdir, "seen_compact")
    if not os.path.isdir(d):
        return []
    return sorted(
        int(name)
        for name in os.listdir(d)
        if name.isdigit() and os.path.exists(os.path.join(d, name, "_TABLE_COMMIT"))
    )


def _committed_evictions(workdir: str, upto: int | None = None) -> list[int]:
    d = os.path.join(workdir, "evictions")
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n)
        for n in os.listdir(d)
        if n.isdigit()
        and os.path.exists(os.path.join(d, n, "_TABLE_COMMIT"))
        and (upto is None or int(n) <= upto)
    )


def _evictions_df(
    spark: SparkSession, workdir: str, stamps: list[int]
) -> DataFrame | None:
    """(canonical_url, as_of) union of the given committed eviction tables."""
    if not stamps:
        return None
    parts = [
        read_table(spark, os.path.join(workdir, "evictions", str(s)))
        .select("canonical_url")
        .withColumn("as_of", F.lit(s))
        for s in stamps
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_seen(
    spark: SparkSession,
    workdir: str,
    upto: int,
    seen_base: DataFrame | None = None,
) -> DataFrame | None:
    """Seen state after rounds ≤ ``upto``: latest committed compaction plus
    the tail deltas behind it, minus committed EVICTIONS (re-crawl).

    Reference analog: block splicing (``acquirer.py:46-58``) — without
    compaction a long crawl re-reads every prior round's crawl_order each
    round (O(R²) file opens over the run); with it, reads per round are
    bounded by ``compact_every`` regardless of round number. Compaction is
    pure state reorganization: the set is identical, so results never
    depend on whether/when it ran.

    Eviction semantics (``evict_seen``): an eviction stamped ``as_of=R``
    removes fetches made at rounds ≤ R — a RE-fetch of the same url at a
    round > R re-enters seen and is NOT re-evicted (otherwise the url
    would recrawl forever). The compaction base covers rounds ≤ lo, so an
    eviction with as_of ≥ lo subtracts from it wholesale; older evictions
    are already baked into that compaction. Tail deltas carry their round
    stamp, so the subtraction condition is exact: as_of ≥ delta round.
    """
    comps = [c for c in _committed_compactions(workdir) if c <= upto]
    lo = -1
    base = seen_base
    if comps:
        lo = comps[-1]
        base = read_table(
            spark, os.path.join(workdir, "seen_compact", str(lo)), schema=schemas.SEEN
        )
    ev_stamps = _committed_evictions(workdir, upto)
    if base is not None:
        base = base.select("canonical_url")
        base_ev = _evictions_df(
            spark, workdir, [s for s in ev_stamps if s >= lo]
        )
        if base_ev is not None:
            base = base.join(
                F.broadcast(base_ev.select("canonical_url").distinct()),
                on="canonical_url",
                how="left_anti",
            )
    ks = [k for k in committed_rounds(workdir) if lo < k <= upto]
    paths = [
        p
        for p in (os.path.join(_round_dir(workdir, k), "crawl_order") for k in ks)
        if os.path.exists(p)
    ]
    delta = None
    if paths:
        delta = spark.read.parquet(*paths).select(
            F.col("url").alias("canonical_url"), "round"
        )
        ev = _evictions_df(spark, workdir, ev_stamps)
        if ev is not None:
            e = F.broadcast(ev).alias("e")
            delta = delta.alias("d").join(
                e,
                (F.col("d.canonical_url") == F.col("e.canonical_url"))
                & (F.col("e.as_of") >= F.col("d.round")),
                how="left_anti",
            )
        delta = delta.select("canonical_url")
    if base is None:
        return delta
    return base if delta is None else base.unionByName(delta)


def evict_seen(spark: SparkSession, workdir: str, urls: DataFrame) -> int:
    """Remove urls from the seen state so a later run RE-FETCHES them —
    the re-crawl primitive (reference analog: a platform item is
    re-acquired when edited; the article's ``version``/edit_count field
    records the change, weibo.py:230-231, and S13 upsert_rows replaces the
    stored row).

    Stamped with the last committed round: only fetches at rounds ≤ stamp
    are forgotten, so the re-fetch itself stays seen afterwards. The bloom
    prefilter is left as it is: its stale positive routes those urls
    through the exact backstop, which now correctly misses. Pair with
    ``run_crawl(..., reseed=urls)`` so the urls re-enter the frontier.

    Returns the eviction stamp (as_of round).
    """
    from colymer_acquirers_spark.functions.canonical import canonicalize_url

    done = committed_rounds(workdir)
    as_of = done[-1] if done else 0
    canon = (
        urls.select(canonicalize_url("url").alias("canonical_url"))
        if "canonical_url" not in urls.columns
        else urls.select("canonical_url")
    ).filter(F.col("canonical_url").isNotNull()).dropDuplicates(["canonical_url"])
    path = os.path.join(workdir, "evictions", str(as_of))
    if os.path.exists(os.path.join(path, "_TABLE_COMMIT")):
        # staged swap, NOT an in-place overwrite: a crash mid-rewrite must
        # not destroy the only committed copy of this stamp's prior
        # evictions (silently un-evicting urls on resume). The staging
        # write happens while the old dir is intact, and _recover_swap
        # completes an interrupted rename pair.
        merged = (
            read_table(spark, path)
            .unionByName(canon)
            .dropDuplicates(["canonical_url"])
        )
        _replace_committed(merged, path)
    else:
        write_table(canon, path, mode="overwrite")
    return as_of


def read_pinned(spark: SparkSession, workdir: str, upto: int) -> DataFrame | None:
    """P7 pinned-attachment-id state after rounds ≤ upto: latest committed
    compaction + tail deltas (same splice pattern as read_seen)."""
    d = os.path.join(workdir, "pinned_compact")
    comps = sorted(
        int(n)
        for n in (os.listdir(d) if os.path.isdir(d) else [])
        if n.isdigit()
        and os.path.exists(os.path.join(d, n, "_TABLE_COMMIT"))
        and int(n) <= upto
    )
    base = None
    lo = -1
    if comps:
        lo = comps[-1]
        base = read_table(spark, os.path.join(d, str(lo))).select("id")
    ks = [k for k in committed_rounds(workdir) if lo < k <= upto]
    paths = [
        p
        for p in (
            os.path.join(_round_dir(workdir, k), "attachments_new") for k in ks
        )
        if os.path.exists(p)
    ]
    delta = spark.read.parquet(*paths).select("id") if paths else None
    if base is None:
        return delta
    return base if delta is None else base.unionByName(delta)


def _read_bloom(spark: SparkSession, workdir: str, k: int) -> DataFrame | None:
    """Round ``k``'s committed bloom shard table, or None when it is absent
    or uncommitted (the caller then rebuilds it from the full seen state)."""
    try:
        return read_table(
            spark, os.path.join(_round_dir(workdir, k), "bloom"),
            schema=BloomSeen.SCHEMA,
        )
    except FileNotFoundError:
        return None


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    politeness: DataFrame | None,
    robots: DataFrame | None,
    workdir: str,
    max_rounds: int = 10,
    default_budget: int = 1_000_000,
    boundary_mode: str = "continue",
    use_bloom: bool = False,
    bloom_filter: "BloomSeen | None" = None,
    initial_seen: DataFrame | None = None,
    compact_every: int = 8,
    reseed: DataFrame | None = None,
) -> dict:
    """Run (or resume) up to ``max_rounds`` crawl rounds; returns summary.

    Every call resumes after the workdir's last committed round, and the
    workdir's state tables (initial seen, compactions, evictions) belong
    to that one crawl; a fresh crawl takes a new or empty ``workdir``.

    Deterministic: same (pages, seeds, politeness, robots, budgets) →
    identical outputs at any parallelism, resumed or not, bloom on or off
    (the bloom is a prefilter with an exact backstop — never changes
    results, only the amount of exact anti-join work).

    Each round's ``manifest.json`` holds its exact ``metrics`` (the
    deterministic counts, equal to ``pyref.crawl``'s) and, beside them,
    ``phases_s``: driver wall seconds for plan construction, the pooled
    writes, the metrics gather and the bloom build. Seen/pinned
    compaction runs after the manifest commits, so its time is not in
    any manifest.

    Each round writes its accumulated bloom as a committed table under
    ``rounds/K/bloom``. A bloom that is missing or uncommitted on resume
    is rebuilt from the full seen state (the safe direction — a
    half-written bloom could false-drop URLs).

    Bloom auto-sizing: when the accumulated seen count pushes the filter's
    estimated FPR past 2× ``TARGET_FPR``, the next compaction rebuilds the
    bloom RIGHT-SIZED (BloomSeen.sized, 4× headroom) from the exact seen
    set it is compacting anyway — without this, fixed shards silently
    saturate (FPR→1) and every probe falls through to the exact anti-join
    backstop. The rebuild replaces the round's bloom through the staged
    swap every state table uses (``tables._replace_committed``).
    """
    if use_bloom and bloom_filter is None:
        bloom_filter = BloomSeen()
    # overlap the one-time parse/envelope tree construction + first-query
    # codegen with round 0's early stages (see _warm_parse_exprs)
    import threading

    threading.Thread(
        target=_warm_parse_exprs, args=(spark,), daemon=True
    ).start()
    # pre-existing-state count enters the occupancy estimate exactly once
    n_seen_base = 0

    # pre-existing seen state (reference analog: chain blocks from a prior
    # scan, acquirer.py:21-22); persisted once so resume sees the same state
    seen_base_path = os.path.join(workdir, "initial_seen")
    if initial_seen is not None and not os.path.exists(seen_base_path):
        initial_seen.select("canonical_url").write.mode("overwrite").parquet(
            seen_base_path
        )
    seen_base = (
        spark.read.schema(schemas.SEEN).parquet(seen_base_path)
        if os.path.exists(seen_base_path)
        else None
    )
    if use_bloom and seen_base is not None:
        n_seen_base = seen_base.count()
    # canonicalize once, reuse across rounds (at warehouse scale the pages
    # table stores canonical_url as a bucketed column instead — see README).
    # A parse-once page store was measured slower: OPTIMIZATION_r08.md.
    pages_k = keyed_pages(pages).persist()
    # compile the robots rules table once (one array<struct> row per host);
    # every round broadcast-joins the same compiled frame instead of
    # rebuilding the groupBy plan per round
    if robots is not None:
        from colymer_acquirers_spark.operators.politeness import compile_robots

        robots = compile_robots(robots)

    done = committed_rounds(workdir)

    if done:
        last = done[-1]
        m = read_manifest(workdir, last)
        rank_offset = m["rank_offset_next"]
        start_round = last + 1
        frontier = spark.read.schema(schemas.FRONTIER).parquet(
            os.path.join(_round_dir(workdir, last), "frontier_next")
        )
        frontier_count = m["metrics"]["frontier_next_count"]
    else:
        rank_offset = 0
        start_round = 0
        frontier = bootstrap_frontier(seeds).persist()
        # one count job on a fresh crawl; later rounds get the count from
        # the frontier_next write's Observation
        frontier_count = frontier.count()

    if reseed is not None:
        # re-crawl injection (pairs with evict_seen): merge extra seeds into
        # the current frontier. Idempotent under crash-resume: urls already
        # re-fetched are back in seen, so the in-round dedup drops them
        cols = ["canonical_url", "url", "priority", "depth", "discovered_round"]
        from colymer_acquirers_spark.functions.canonical import host_of as _hof
        from colymer_acquirers_spark.operators.seen import merge_frontier

        frontier = (
            merge_frontier(
                frontier.select(*cols).unionByName(
                    bootstrap_frontier(reseed).select(*cols)
                )
            )
            .withColumn("host", _hof("canonical_url"))
            .persist()
        )
        frontier_count = frontier.count()

    all_metrics = [read_manifest(workdir, k)["metrics"] for k in done]

    # resume must probe with the geometry the persisted shard bytes were
    # built with (the bloom may have been auto-resized since the run began)
    if use_bloom and done:
        last_bloom = _read_bloom(spark, workdir, done[-1])
        if last_bloom is not None:
            bloom_filter = BloomSeen.from_table(last_bloom) or bloom_filter

    for rnd in range(start_round, max_rounds):
        if frontier_count == 0:
            break
        seen = (
            read_seen(spark, workdir, rnd - 1, seen_base) if rnd > 0 else seen_base
        )
        pinned_prior = read_pinned(spark, workdir, rnd - 1) if rnd > 0 else None
        bloom = _read_bloom(spark, workdir, rnd - 1) if use_bloom and rnd > 0 else None
        rd = _round_dir(workdir, rnd)
        # clean any uncommitted leftovers from a crashed attempt
        if os.path.isdir(rd) and not os.path.exists(_manifest_path(workdir, rnd)):
            shutil.rmtree(rd)
        os.makedirs(rd, exist_ok=True)
        rr = run_round(
            frontier,
            seen,
            pages_k,
            politeness,
            robots,
            rnd,
            rank_offset,
            out_dir=rd,
            default_budget=default_budget,
            boundary_mode=boundary_mode,
            bloom=bloom,
            bloom_filter=bloom_filter,
            n_frontier=frontier_count,
            pinned_prior=pinned_prior,
        )
        t_bloom = time.monotonic()
        if use_bloom:
            # accumulate: OR-merge previous bloom with this round's delta;
            # the round-0 bloom must also cover any pre-existing seen state,
            # or those URLs would wrongly probe "definitely unseen"
            delta_src = rr.seen_delta
            if bloom is None and rnd > 0 and seen is not None:
                # no committed prior bloom at rnd>0 (resuming a workdir
                # crawled with use_bloom=False, or whose last bloom was
                # lost or never committed): rebuild the accumulator
                # from the FULL seen state, not just this round's delta —
                # otherwise the next round's probe reports earlier-seen
                # URLs "definitely unseen" and the never-false-drop
                # invariant rests on the exact backstop alone
                delta_src = delta_src.unionByName(seen.select("canonical_url"))
            elif rnd == 0 and seen_base is not None:
                delta_src = delta_src.unionByName(seen_base.select("canonical_url"))
            delta = bloom_filter.build_delta(delta_src)
            acc = delta if bloom is None else bloom_filter.merge(bloom.unionByName(delta))
            write_table(acc, os.path.join(rd, "bloom"), mode="overwrite")
        phases_s = dict(rr.phases_s, bloom=round(time.monotonic() - t_bloom, 3))
        frontier = spark.read.schema(schemas.FRONTIER).parquet(
            os.path.join(rd, "frontier_next")
        )
        frontier_count = rr.metrics["frontier_next_count"]
        rank_offset += rr.metrics["fetched"]
        metrics = dict(rr.metrics)
        all_metrics.append(metrics)
        # commit marker LAST (atomic at the filesystem-rename granularity)
        tmp = _manifest_path(workdir, rnd) + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"round": rnd, "rank_offset_next": rank_offset,
                       "metrics": metrics, "phases_s": phases_s}, f)
        os.replace(tmp, _manifest_path(workdir, rnd))
        for df in rr.persisted:
            df.unpersist()
        # seen compaction every K committed rounds (reference analog: block
        # splicing, acquirer.py:46-58): rewrite base ∪ deltas into one
        # table so per-round seen reads stay O(compact_every), not O(R)
        if compact_every and (rnd + 1) % compact_every == 0:
            full = read_seen(spark, workdir, rnd, seen_base)
            if full is not None:
                write_table(
                    compact_seen(full),
                    os.path.join(workdir, "seen_compact", str(rnd)),
                    mode="overwrite",
                )
            pinned_full = read_pinned(spark, workdir, rnd)
            if pinned_full is not None:
                write_table(
                    pinned_full.dropDuplicates(["id"]),
                    os.path.join(workdir, "pinned_compact", str(rnd)),
                    mode="overwrite",
                )
            # bloom re-size at compaction (occupancy check is pure driver
            # arithmetic: accumulated inserts = rank_offset + initial seen)
            if use_bloom and full is not None:
                n_inserted = rank_offset + n_seen_base
                if bloom_filter.estimated_fpr(n_inserted) > 2 * TARGET_FPR:
                    bloom_filter = BloomSeen.sized(max(4 * n_inserted, 1024))
                    _replace_committed(
                        bloom_filter.build_delta(full.select("canonical_url")),
                        os.path.join(rd, "bloom"),
                    )

    pages_k.unpersist()
    return {
        "rounds": committed_rounds(workdir),
        "rank_total": rank_offset,
        "metrics": all_metrics,
    }
