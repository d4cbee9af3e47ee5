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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from colymer_acquirers_spark import schemas
from colymer_acquirers_spark.functions.canonical import host_of
# compact_seen runs in run_round; perfbench's traced run wraps it here
from colymer_acquirers_spark.operators.seen import (  # noqa: F401
    compact_seen,
    merge_frontier,
)
from colymer_acquirers_spark.operators.seen_bloom import BloomSeen
from colymer_acquirers_spark.plans.round import (
    FRONTIER_COLS,
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
        # a JVM frame, not createDataFrame([]): that scans a Python RDD
        return spark.range(0).select(
            *(F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields)
        )
    df = spark.read.parquet(*paths)
    return df


def _committed_stamps(workdir: str, kind: str, upto: int | None = None) -> list[int]:
    """Stamps ≤ ``upto`` of the committed ``workdir/kind/<stamp>`` tables
    (seen_compact, pinned_compact, evictions)."""
    d = os.path.join(workdir, kind)
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
    comps = _committed_stamps(workdir, "seen_compact", upto)
    lo = -1
    base = seen_base
    if comps:
        lo = comps[-1]
        base = read_table(
            spark, os.path.join(workdir, "seen_compact", str(lo)), schema=schemas.SEEN
        )
    ev_stamps = _committed_stamps(workdir, "evictions", upto)
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
    are forgotten, so the re-fetch itself stays seen afterwards. Pair with
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
    comps = _committed_stamps(workdir, "pinned_compact", upto)
    base = None
    lo = -1
    if comps:
        lo = comps[-1]
        base = read_table(
            spark, os.path.join(workdir, "pinned_compact", str(lo))
        ).select("id")
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

    ``initial_seen`` is persisted by the first call that passes it, and
    only before any round has committed: a call that passes it to a
    workdir with committed rounds and no persisted ``initial_seen``
    raises ``ValueError`` and writes nothing. Later calls reuse the
    persisted set and ignore the argument.

    Step 1 (the seen check) runs only in the call's first round, and only
    when that frontier can hold seen urls: the call built it from
    ``seeds`` (no committed round yet) or merged ``reseed`` urls into it.
    Every other round starts from the frontier_next the round before
    wrote, and step 9 made that disjoint from seen. A resumed call makes
    the same choice with no stored record: a frontier_next(K) row is
    unseen in ``read_seen(K)`` when written, and nothing outside a round
    grows seen (``initial_seen`` is written before round 0 runs;
    ``evict_seen`` only removes urls; compaction keeps the set).

    With ``use_bloom``, a round that runs step 1 in continue mode builds
    a bloom from that round's seen frame and probes the frontier with it;
    only bloom-positive rows go through the exact anti-join. The filter is
    sized for an upper bound on the seen count (every fetch so far plus
    the ``initial_seen`` rows, counted only in that round). Built from the
    exact set it guards, it is sound by construction, so no round stores,
    merges or resizes one; ``rounds/K/bloom`` dirs in older workdirs are
    ignored.

    Each round's ``manifest.json`` holds its exact ``metrics`` (the
    deterministic counts, equal to ``pyref.crawl``'s) and, beside them,
    ``phases_s``: driver wall seconds for plan construction, the pooled
    writes and the metrics gather. A round due for compaction writes the
    seen/pinned compactions in its write pool, so their time is in that
    round's ``phases_s["writes"]``.
    """
    done = committed_rounds(workdir)
    # pre-existing seen state (reference analog: chain blocks from a prior
    # scan, acquirer.py:21-22); persisted once, as a committed table, so
    # resume sees the same state and a crashed write counts as absent
    seen_base_path = os.path.join(workdir, "initial_seen")
    has_seen_base = os.path.exists(os.path.join(seen_base_path, "_TABLE_COMMIT"))
    if initial_seen is not None and not has_seen_base:
        if done:
            raise ValueError(
                f"initial_seen given to {workdir!r}, which has committed "
                "rounds crawled without it; start a new workdir"
            )
        write_table(
            initial_seen.select("canonical_url"), seen_base_path, mode="overwrite"
        )
        has_seen_base = True
    # overlap the one-time parse/envelope tree construction + first-query
    # codegen with round 0's early stages (see _warm_parse_exprs)
    import threading

    threading.Thread(
        target=_warm_parse_exprs, args=(spark,), daemon=True
    ).start()
    seen_base = None
    if has_seen_base:
        seen_base = read_table(spark, seen_base_path, schema=schemas.SEEN)
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
        frontier = bootstrap_frontier(seeds)

    if reseed is not None:
        # re-crawl injection (pairs with evict_seen): merge extra seeds into
        # the current frontier. Idempotent under crash-resume: urls already
        # re-fetched are back in seen, so the in-round dedup drops them
        frontier = merge_frontier(
            frontier.select(*FRONTIER_COLS).unionByName(
                bootstrap_frontier(reseed).select(*FRONTIER_COLS)
            )
        ).withColumn("host", host_of("canonical_url"))

    # step 1 runs in the call's first round only, and only when its
    # frontier can hold seen urls (see the docstring)
    check_seen = not done or reseed is not None
    if check_seen:
        # one count job per seed-built frontier; later rounds get the
        # count from the frontier_next write's Observation
        frontier = frontier.persist()
        frontier_count = frontier.count()

    all_metrics = [read_manifest(workdir, k)["metrics"] for k in done]

    for rnd in range(start_round, max_rounds):
        if frontier_count == 0:
            break
        seen = (
            read_seen(spark, workdir, rnd - 1, seen_base) if rnd > 0 else seen_base
        )
        pinned_prior = read_pinned(spark, workdir, rnd - 1) if rnd > 0 else None
        rd = _round_dir(workdir, rnd)
        # seen/pinned compaction every K committed rounds (reference
        # analog: block splicing, acquirer.py:46-58), written in the
        # round's pool, so per-round seen reads stay O(compact_every)
        state_dirs = tuple(os.path.join(workdir, d, str(rnd))
                           for d in ("seen_compact", "pinned_compact"))
        due = compact_every and (rnd + 1) % compact_every == 0
        # clean what a crashed attempt at this uncommitted round left: its
        # outputs and its compactions, which would otherwise stand for this
        # round's state once it commits without compacting
        for d in (rd, *state_dirs):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(rd)
        step1 = check_seen and seen is not None
        bloom_filter = None
        if step1 and use_bloom and boundary_mode == "continue":
            # an upper bound on |seen|: every fetch so far plus the
            # initial seen rows
            n_seen = rank_offset + (seen_base.count() if seen_base is not None else 0)
            width = int(spark.conf.get("spark.sql.shuffle.partitions"))
            bloom_filter = BloomSeen.sized(max(n_seen, 1024), min_shards=width)
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
            bloom_filter=bloom_filter,
            n_frontier=frontier_count,
            check_seen=step1,
            pinned_prior=pinned_prior,
            compact_to=state_dirs if due else None,
        )
        check_seen = False
        # frees a seed-built frontier; a no-op on a frontier_next read
        frontier.unpersist()
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
                       "metrics": metrics, "phases_s": rr.phases_s}, f)
        os.replace(tmp, _manifest_path(workdir, rnd))
        for df in rr.persisted:
            df.unpersist()

    pages_k.unpersist()
    frontier.unpersist()  # a seed-built frontier that no round consumed
    return {
        "rounds": committed_rounds(workdir),
        "rank_total": rank_offset,
        "metrics": all_metrics,
    }
