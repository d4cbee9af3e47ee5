"""The ``recrawl-deep`` workload: a resumed bloom-prefiltered recrawl.

Set-up crawls rounds 0..first_rounds-1 into a base workdir, then warms up
with one untimed operation. One operation copies the base workdir to a
fresh one and resumes it with a second ``run_crawl`` up to ``rounds``.
Half the pages are seen before the crawl starts, the bloom prefilter is on
and seen/pinned state is compacted every ``compact_every`` rounds, so
per-round driver cost, seen/bloom work, compaction and resume dominate
while parse stays light.
"""

from __future__ import annotations

import inspect
import os
import shutil
import statistics
import time

import checks
import procstat
import spans as spanlib
from eventlog import WRITE_GROUPS
from ops import no_cache_survives

CONFIGS = {
    "full": {"pages": 40000, "words_mult": 1, "seeds": 4000, "seen_share": 0.5,
             "budget": 60, "first_rounds": 1, "rounds": 2, "compact_every": 1},
    "tiny": {"pages": 600, "words_mult": 1, "seeds": 60, "seen_share": 0.5,
             "budget": 30, "first_rounds": 1, "rounds": 2, "compact_every": 1},
}
PARSE_SAMPLE = 1000


class Inputs:
    def __init__(self, spark, paths: dict[str, str]):
        from colymer_acquirers_spark import schemas

        self.pages = spark.read.parquet(paths["pages"])
        self.seeds = spark.read.parquet(paths["seeds"])
        self.politeness = spark.read.parquet(paths["politeness"])
        self.robots = spark.read.parquet(paths["robots"])
        self.initial_seen = spark.read.schema(schemas.SEEN).parquet(paths["initial_seen"])


def _crawl_kwargs(run_crawl, cfg: dict) -> dict:
    kw = {"use_bloom": True, "compact_every": cfg["compact_every"]}
    # the cheap-metrics mode the repo's own bench uses, while it exists
    if "metrics_full" in inspect.signature(run_crawl).parameters:
        kw["metrics_full"] = False
    return kw


def crawl_once(spark, inp: Inputs, workdir: str, cfg: dict, max_rounds: int) -> dict:
    """One ``run_crawl`` call; returns its summary, wall, cpu and round
    latencies.

    Round latency runs from one ``run_round`` entry to the next, or to the
    end of the call; the entry times come from a timestamp-only wrapper
    around ``plans.crawl.run_round``."""
    from colymer_acquirers_spark.plans import crawl as crawl_mod

    entries: list[float] = []
    original = crawl_mod.run_round

    def stamped(*a, **k):
        entries.append(time.monotonic())
        return original(*a, **k)

    kw = _crawl_kwargs(crawl_mod.run_crawl, cfg)
    crawl_mod.run_round = stamped
    error = None
    cpu0, t0 = procstat.tree_cpu_s(), time.monotonic()
    try:
        summary = crawl_mod.run_crawl(
            spark, inp.pages, inp.seeds, inp.politeness, inp.robots, workdir,
            max_rounds=max_rounds, initial_seen=inp.initial_seen, **kw)
    except Exception as e:  # counted by the caller as a failed round
        summary, error = None, e
    finally:
        crawl_mod.run_round = original
    t1, cpu1 = time.monotonic(), procstat.tree_cpu_s()
    bounds = entries + [t1]
    return {
        "summary": summary,
        "error": error,
        "wall": t1 - t0,
        "cpu": cpu1 - cpu0,
        "rounds": len(entries),
        "round_lat": [b - a for a, b in zip(bounds, bounds[1:])],
        "bootstrap": (entries[0] if entries else t1) - t0,
    }


def resume_once(spark, st: dict, workdir: str) -> dict:
    """One operation: resume a fresh copy of the set-up crawl's workdir."""
    shutil.copytree(st["base"], workdir)
    res = crawl_once(spark, st["inp"], workdir, st["cfg"], st["cfg"]["rounds"])
    if res["summary"] is not None:
        res["urls"] = res["summary"]["rank_total"] - st["base_urls"]
    return res


def account(ops, res: dict) -> None:
    """Each round entered is an attempted operation; an exception fails
    the round it interrupted (or a bootstrap operation of its own)."""
    ops.attempted += max(res["rounds"], 1)
    if res["error"] is not None:
        import traceback

        ops.fail("crawl", "".join(traceback.format_exception(res["error"])))


# -- checks ----------------------------------------------------------------

def collect_outputs(spark, inp: Inputs, workdir: str) -> dict:
    from pyspark.sql import functions as F

    from colymer_acquirers_spark.plans.crawl import read_output
    from colymer_acquirers_spark.plans.round import keyed_pages

    order = [tuple(r) for r in read_output(spark, workdir, "crawl_order")
             .select("rank", "url", "round").collect()]
    articles = read_output(spark, workdir, "articles")
    arts = [tuple(r) for r in articles.select(
        "canonical_url", "content", "text_sha256").collect()]
    sample = (
        articles.select("canonical_url", "content")
        .orderBy(F.xxhash64("canonical_url"))
        .limit(PARSE_SAMPLE)
        .join(keyed_pages(inp.pages, cluster=False).select("canonical_url", "html"),
              "canonical_url")
        .select("canonical_url", "html", "content")
        .collect()
    )
    return {
        "order": order,
        "articles": arts,
        "sample": [(r[0], bytes(r[1]), r[2]) for r in sample],
        "budgets": {r[0]: r[1] for r in inp.politeness.select(
            "host", "max_fetch_per_round").collect()},
        "rules": [tuple(r) for r in inp.robots.select(
            "host", "path_prefix", "allow").collect()],
    }


def run_checks(ops, out: dict, rank_total: int, expected: str | None) -> str:
    order = out["order"]
    ops.check("ranks 0..N-1 once", checks.ranks_dense, order, rank_total)
    ops.check("each URL fetched once", checks.fetched_once, order)
    ops.check("fetched <= budget per (round, host)", checks.within_budget,
              order, out["budgets"], 1_000_000)
    ops.check("no robots-denied URL fetched", checks.robots_allowed, order, out["rules"])
    ops.check("text_sha256 = sha256(content)", checks.sha_matches, out["articles"])
    ops.check("content = extract_text_series(html)", checks.parse_matches, out["sample"])
    digest = checks.order_digest(order)
    if expected is None:
        ops.skip("crawl_order digest", "no digest recorded for this seed")
    else:
        ops.check("crawl_order digest", checks.digest_matches, order, expected)
    return digest


# -- workload --------------------------------------------------------------

def setup(spark, ctx) -> dict:
    import inputs

    cfg = CONFIGS[ctx.scale]
    t = time.monotonic()
    paths = inputs.crawl_tables(spark, os.path.join(ctx.work, "inputs"), ctx.seed, cfg)
    inp = Inputs(spark, paths)
    ctx.info["inputs_s"] = round(time.monotonic() - t, 3)
    base = os.path.join(ctx.work, "base")
    res = crawl_once(spark, inp, base, cfg, cfg["first_rounds"])
    account(ctx.ops, res)
    if res["error"] is not None:
        raise RuntimeError("the set-up crawl failed") from res["error"]
    ctx.info["base_crawl_s"] = round(res["wall"], 3)
    ctx.ops.check("no cache survives the base crawl", no_cache_survives, spark)
    st = {"cfg": cfg, "inp": inp, "base": base, "base_bootstrap_s": res["bootstrap"],
          "base_urls": res["summary"]["rank_total"]}
    # warm-up, counted in setup_s: one untimed operation, so the timed one
    # is the second run of the resume branch, the bloom merge and the
    # cogroup probe and its pandas workers
    warm = os.path.join(ctx.work, "warmup")
    res = resume_once(spark, st, warm)
    account(ctx.ops, res)
    if res["error"] is not None:
        raise RuntimeError("the warm-up resume failed") from res["error"]
    ctx.info["warmup_s"] = round(res["wall"], 3)
    ctx.ops.check("no cache survives the warm-up", no_cache_survives, spark)
    shutil.rmtree(warm, ignore_errors=True)
    return st


def measure(spark, ctx, st: dict) -> dict:
    ctx.mark_setup_done()
    runs, k = [], 0
    deadline = time.monotonic() + ctx.seconds
    while True:
        wd = os.path.join(ctx.work, f"crawl{k}")
        res = resume_once(spark, st, wd)
        account(ctx.ops, res)
        runs.append((res, wd))
        k += 1
        if time.monotonic() >= deadline or res["error"] is not None:
            break
        ctx.ops.check("no cache survives a repetition", no_cache_survives, spark)
        shutil.rmtree(wd, ignore_errors=True)
    ok = [r for r, _ in runs if r["summary"] is not None]
    last_res, last_wd = runs[-1]
    if last_res["summary"] is not None:
        out = collect_outputs(spark, st["inp"], last_wd)
        digest = run_checks(ctx.ops, out, last_res["summary"]["rank_total"],
                            ctx.expected("crawl_order_digest"))
        ctx.record("crawl_order_digest", digest)
    ctx.ops.check("no cache survives the run", no_cache_survives, spark)
    if not ok:
        return {}
    lat = [x for r in ok for x in r["round_lat"]]
    ctx.info.update({"crawls": len(ok), "urls_per_crawl": ok[-1]["urls"],
                     "round_samples": len(lat)})
    return {
        "urls_per_s": statistics.median(r["urls"] / r["wall"] for r in ok),
        "cpu_us_per_url": statistics.median(1e6 * r["cpu"] / r["urls"] for r in ok),
        "round_p50_s": statistics.median(lat),
    }


# -- traced run ------------------------------------------------------------

def _wrap_layers(tr) -> None:
    from pyspark.sql import DataFrame, DataFrameWriter

    from colymer_acquirers_spark.operators import politeness, seen_bloom
    from colymer_acquirers_spark.plans import crawl as crawl_mod
    from colymer_acquirers_spark.plans import round as round_mod

    def table(args, kwargs):
        ident = args[1] if len(args) > 1 else kwargs.get("identifier", "")
        return {"table": os.path.basename(os.path.dirname(ident))
                if os.path.basename(ident).isdigit() else os.path.basename(ident)}

    for name in ("run_round", "read_seen", "read_pinned", "keyed_pages",
                 "bootstrap_frontier", "compact_seen", "committed_rounds"):
        tr.wrap(crawl_mod, name, f"plans.crawl.{name}")
    tr.wrap(crawl_mod, "write_table", "sources.tables.write_table", table)
    tr.wrap(round_mod, "write_table", "sources.tables.write_table", table)
    for name in ("dedup_against_seen", "robots_filter", "politeness_split",
                 "global_rank", "merge_frontier"):
        tr.wrap(round_mod, name, f"plans.round.{name}")
    tr.wrap(politeness, "compile_robots", "operators.politeness.compile_robots")
    for name in ("probe", "build_delta", "merge"):
        tr.wrap(seen_bloom.BloomSeen, name, f"operators.seen_bloom.{name}")
    tr.wrap(DataFrameWriter, "parquet", "pyspark.DataFrameWriter.parquet")
    for name in ("count", "isEmpty", "persist", "unpersist", "first"):
        tr.wrap(DataFrame, name, f"pyspark.DataFrame.{name}")


def _timed_noop(df) -> float:
    t = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t


def _isolated(spark, inp: Inputs, wd: str) -> dict:
    """Each layer's public function run alone on the traced crawl's last
    round inputs, checkpointed first so upstream work is not counted."""
    from pyspark.sql import functions as F

    from colymer_acquirers_spark import schemas
    from colymer_acquirers_spark.functions.canonical import canonicalize_url
    from colymer_acquirers_spark.functions.envelope_expr import envelope_expr
    from colymer_acquirers_spark.functions.parse_expr import parse_page_expr
    from colymer_acquirers_spark.operators.politeness import (
        compile_robots, politeness_split, robots_filter)
    from colymer_acquirers_spark.operators.ranking import global_rank
    from colymer_acquirers_spark.operators.seen import (
        dedup_against_seen, merge_frontier)
    from colymer_acquirers_spark.operators.seen_bloom import BloomSeen
    from colymer_acquirers_spark.plans.crawl import committed_rounds, read_seen
    from colymer_acquirers_spark.plans.round import SORT_KEYS, keyed_pages

    def ck(df):
        return df.localCheckpoint(eager=True)

    def rdir(k):
        return os.path.join(wd, "rounds", str(k))

    m: dict[str, float] = {}
    seen_base = spark.read.schema(schemas.SEEN).parquet(os.path.join(wd, "initial_seen"))
    rounds = committed_rounds(wd)
    last = rounds[-1]
    frontier_at = {
        k: spark.read.schema(schemas.FRONTIER).parquet(os.path.join(rdir(k - 1), "frontier_next"))
        for k in rounds if k > 0
    }
    # drop ratio of the per-round exact anti-join, rounds > 0
    n_front = n_drop = 0
    for k, fr in frontier_at.items():
        seen_k = read_seen(spark, wd, k - 1, seen_base)
        n = fr.count()
        n_front += n
        n_drop += n - dedup_against_seen(fr, seen_k).count()
    m["operators.seen.drop_ratio"] = n_drop / max(n_front, 1)

    frontier = ck(frontier_at[last])
    seen = ck(read_seen(spark, wd, last - 1, seen_base))
    m["operators.seen.dedup_s"] = _timed_noop(dedup_against_seen(frontier, seen))
    cand = ck(dedup_against_seen(frontier, seen))
    nxt = spark.read.schema(schemas.FRONTIER).parquet(os.path.join(rdir(last), "frontier_next"))
    cols = ["canonical_url", "url", "priority", "depth", "discovered_round"]
    merge_in = ck(frontier.select(*cols).unionByName(nxt.select(*cols)))
    m["operators.seen.merge_frontier_s"] = _timed_noop(merge_frontier(merge_in))

    robots = ck(compile_robots(inp.robots))
    persisted: list = []
    t = time.monotonic()
    allowed, blocked = robots_filter(cand, robots)
    fetched, carry = politeness_split(allowed, inp.politeness, persisted=persisted)
    fetched = fetched.persist()
    fetched.unionByName(carry).write.format("noop").mode("overwrite").save()
    m["operators.politeness.split_s"] = time.monotonic() - t
    n_cand, n_blocked, n_fetched = cand.count(), blocked.count(), fetched.count()
    m["operators.politeness.fetch_ratio"] = n_fetched / max(n_cand - n_blocked, 1)
    m["operators.politeness.blocked_ratio"] = n_blocked / max(n_cand, 1)
    fetched_ck = ck(fetched)
    fetched.unpersist()
    for df in persisted:
        df.unpersist()
    ranked, info = global_rank(fetched_ck, SORT_KEYS, "rank", start=0, return_info=True)
    m["operators.ranking.rank_s"] = _timed_noop(ranked)
    info.persisted.unpersist()

    co = spark.read.parquet(os.path.join(rdir(last), "crawl_order"))
    fetched_pages = ck(
        keyed_pages(inp.pages, cluster=False).join(
            co.select(F.col("url").alias("canonical_url")), "canonical_url"
        ).select("canonical_url", "html")
    )
    n_pages = fetched_pages.count()
    t = _timed_noop(fetched_pages.select(
        parse_page_expr("html", "canonical_url").alias("p"),
        envelope_expr("html", "canonical_url").alias("e")))
    m["functions.parse.pages_per_s"] = n_pages / t
    links = ck(fetched_pages.select(
        F.explode(parse_page_expr("html", "canonical_url")["links"]).alias("raw_url")))
    n_links = links.count()
    m["functions.canonical.urls_per_s"] = n_links / _timed_noop(
        links.select(canonicalize_url("raw_url").alias("u")))

    bloom_path = os.path.join(rdir(last - 1), "bloom")
    if os.path.exists(bloom_path):
        bloom = ck(spark.read.parquet(bloom_path))
        bf = BloomSeen.from_table(bloom)
        m["operators.seen_bloom.probe_s"] = _timed_noop(bf.probe(frontier, bloom))
        probed = bf.probe(frontier, bloom).select("canonical_url", "maybe_seen")
        unseen = cand.select("canonical_url", F.lit(True).alias("__unseen"))
        j = probed.join(unseen, "canonical_url", "left").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("maybe_seen").cast("int")).alias("pos"),
            F.sum(F.col("__unseen").isNotNull().cast("int")).alias("unseen"),
            F.sum((F.col("maybe_seen") & F.col("__unseen").isNotNull()).cast("int")).alias("fp"),
        ).first()
        m["operators.seen_bloom.positive_ratio"] = (j["pos"] or 0) / max(j["n"], 1)
        m["operators.seen_bloom.false_positive_ratio"] = (j["fp"] or 0) / max(j["unseen"] or 0, 1)
        delta_src = ck(co.select(F.col("url").alias("canonical_url")))
        m["operators.seen_bloom.build_merge_s"] = _timed_noop(
            bf.merge(bloom.unionByName(bf.build_delta(delta_src))))
    return m


def _from_spans(sp: list[dict], crawl_calls: list[dict]) -> dict:
    def named(name, within):
        return [s for s in sp if s["name"] == name and s["parent"] == within["id"]]

    def pooled_writes(r):
        return [s for s in sp if s["name"] == "sources.tables.write_table"
                and s["thread"] != "MainThread" and r["start"] <= s["start"] <= r["end"]]

    m: dict[str, float] = {}
    between, construct, writes = [], [], []
    write_s = {t: 0.0 for t in WRITE_GROUPS}
    compact = 0.0
    for call in crawl_calls:
        rr = sorted(named("plans.crawl.run_round", call), key=lambda s: s["start"])
        call["first_round_at"] = rr[0]["start"] if rr else call["end"]
        nxt = [b["start"] for b in rr[1:]] + [call["end"]]
        between += [b - a["end"] for a, b in zip(rr, nxt)]
        for r in rr:
            w = pooled_writes(r)
            if w:
                construct.append(min(s["start"] for s in w) - r["start"])
                writes.append(max(s["end"] for s in w) - min(s["start"] for s in w))
            for s in w:
                if s["table"] in write_s:
                    write_s[s["table"]] += s["end"] - s["start"]
        compact += sum(s["end"] - s["start"] for s in named("sources.tables.write_table", call))
    m["plans.crawl.resume_s"] = statistics.median(
        c["first_round_at"] - c["start"] for c in crawl_calls)
    m["plans.crawl.between_rounds_s"] = statistics.median(between) if between else 0.0
    m["plans.round.construct_s"] = statistics.median(construct) if construct else 0.0
    m["plans.round.writes_s"] = statistics.median(writes) if writes else 0.0
    for t, v in write_s.items():
        m[f"sources.tables.write_s.{t}"] = v
    m["sources.tables.compact_s"] = compact
    m["trace.attributed_share"] = min(
        spanlib.attributed_share(sp, c) for c in crawl_calls)
    return m


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def trace(spark, ctx, st: dict) -> dict:
    from colymer_acquirers_spark.plans import crawl as crawl_mod

    inp = st["inp"]
    ctx.mark_setup_done()
    tr = spanlib.Tracer()
    tr.trace_id = "recrawl-deep"
    _wrap_layers(tr)
    tr.wrap(crawl_mod, "run_crawl", "plans.crawl.run_crawl")
    jvm = procstat.jvm_pid()
    thr0, py0 = procstat.jvm_thread_cpu(jvm), procstat.pyworker_cpu_s(jvm)
    wd = os.path.join(ctx.work, "traced")
    ctx.event_window_open()
    try:
        traced = resume_once(spark, st, wd)
    finally:
        tr.close()
    ctx.event_window_close()
    thr = procstat.thread_group_delta(thr0, procstat.jvm_thread_cpu(jvm))
    py = procstat.pyworker_cpu_s(jvm) - py0
    account(ctx.ops, traced)
    ctx.ops.check("no cache survives the traced crawl", no_cache_survives, spark)
    ref = resume_once(spark, st, os.path.join(ctx.work, "reference"))
    account(ctx.ops, ref)
    ctx.ops.check("no cache survives the reference crawl", no_cache_survives, spark)
    if traced["summary"] is None or ref["summary"] is None:
        return {}
    m = {"plans.crawl.bootstrap_s": st["base_bootstrap_s"]}
    calls = [s for s in tr.spans if s["name"] == "plans.crawl.run_crawl"]
    m.update(_from_spans(tr.spans, calls))
    m.update(_isolated(spark, inp, wd))
    out = collect_outputs(spark, inp, wd)
    total = traced["summary"]["rank_total"]
    run_checks(ctx.ops, out, total, ctx.expected("crawl_order_digest"))
    m["sources.tables.bytes_per_url"] = _dir_bytes(wd) / total
    m["jvm.task_cpu_s"], m["jvm.jit_cpu_s"], m["jvm.gc_cpu_s"] = (
        thr["task"], thr["jit"], thr["gc"])
    m["pyworker.cpu_s"] = py
    m["trace.overhead_share"] = 1.0 - (traced["urls"] / traced["wall"]) / (
        ref["urls"] / ref["wall"])
    ctx.info.update({"traced_wall_s": traced["wall"], "reference_wall_s": ref["wall"],
                     "spans": len(tr.spans), "urls_per_crawl": traced["urls"]})
    tr.dump(ctx.spans_path)
    return m
