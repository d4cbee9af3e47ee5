"""The ``dedup-corpus`` workload: near-duplicate removal over a text corpus.

One operation is the dedup pipeline over a generated corpus, in three
stages: MinHash-LSH candidate pairs verified at Jaccard >= 0.5
(checkpointed), their connected components, then keep-representatives ->
line-level boilerplate removal -> ``write_table``. It runs none of the
crawl layers.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import checks
import procstat
import spans as spanlib
from ops import no_cache_survives

CONFIGS = {
    "full": {"docs": 4000, "vocab": 50000, "min_words": 80, "max_words": 200,
             "dup_share": 0.10, "boiler_share": 0.04},
    "tiny": {"docs": 600, "vocab": 50000, "min_words": 80, "max_words": 200,
             "dup_share": 0.10, "boiler_share": 0.04},
}
THRESHOLD = 0.5


def dedup_once(spark, docs, out_dir: str, tracer=None) -> dict:
    """One operation; returns per-stage latencies, wall, cpu and outputs."""
    from colymer_acquirers_spark.operators import cleaning, ckpt, dedup
    from colymer_acquirers_spark.sources import tables

    def stage(name):
        return tracer.span(f"stage.{name}") if tracer else contextlib.nullcontext()

    lat: dict[str, float] = {}
    res = {"error": None, "stages": 0, "pairs": None, "comps": None}
    persisted: list = []
    cpu0, t0 = procstat.tree_cpu_s(), time.monotonic()
    try:
        t = time.monotonic()
        res["stages"] += 1
        with stage("pairs"):
            pairs = ckpt.flat_checkpoint(dedup.minhash_near_dups_verified(
                docs, "id", "text", threshold=THRESHOLD, persisted=persisted))
        lat["pairs"] = time.monotonic() - t
        t = time.monotonic()
        res["stages"] += 1
        with stage("components"):
            comps = {r[0]: r[1] for r in dedup.near_dup_components(pairs).collect()}
        lat["components"] = time.monotonic() - t
        t = time.monotonic()
        res["stages"] += 1
        with stage("keep_clean_write"):
            kept = dedup.dedup_keep_representatives(docs, pairs, "id")
            tables.write_table(cleaning.line_dedup(kept, "id", "text"), out_dir,
                               mode="overwrite")
        lat["keep_clean_write"] = time.monotonic() - t
        res["pairs"] = [tuple(r) for r in pairs.collect()]
        res["comps"] = comps
        res["pairs_df"] = pairs
    except Exception as e:  # counted by the caller as a failed stage
        res["error"] = e
    finally:
        for df in persisted:
            df.unpersist()
    res.update(wall=time.monotonic() - t0, cpu=procstat.tree_cpu_s() - cpu0, lat=lat)
    return res


def account(ops, res: dict) -> None:
    ops.attempted += max(res["stages"], 1)
    if res["error"] is not None:
        import traceback

        ops.fail("dedup stage", "".join(traceback.format_exception(res["error"])))


def check_outputs(ops, pairs, comps: dict, texts: dict, n_docs: int, n_out: int,
                  recall: float, expected_recall: float | None) -> None:
    ops.check("pair Jaccard >= 0.5 (recomputed)", checks.pairs_verified,
              pairs, texts, THRESHOLD)
    ops.check("component = union-find min id", checks.components_match, pairs, comps)
    losers = sum(1 for i, c in comps.items() if i != c)
    ops.check("kept = corpus - non-representatives",
              lambda: (n_out == n_docs - losers, f"{n_out} kept, expected {n_docs - losers}"))
    if expected_recall is None:
        ops.skip("planted_recall", "no value recorded for this seed")
    else:
        ops.check("planted_recall", checks.recall_matches, recall, expected_recall)


def run_checks(spark, ctx, docs, res: dict, planted, out_dir: str) -> float:
    from pyspark.sql import functions as F

    comps = res["comps"]
    ids = spark.createDataFrame([(i,) for i in comps] or [(-1,)], "id long")
    texts = {r[0]: r[1] for r in docs.join(ids, "id").select("id", "text").collect()}
    out = spark.read.parquet(out_dir)
    recall = checks.planted_recall(planted, comps)
    check_outputs(ctx.ops, res["pairs"], comps, texts, docs.count(), out.count(),
                  recall, ctx.expected("planted_recall"))
    ctx.record("planted_recall", recall)
    removed = out.agg(F.sum("n_lines_removed").alias("r"), F.sum("n_lines").alias("n")).first()
    res["lines_removed_ratio"] = (removed["r"] or 0) / max(removed["n"] or 0, 1)
    return recall


def setup(spark, ctx) -> dict:
    import inputs

    cfg = CONFIGS[ctx.scale]
    t = time.monotonic()
    path, planted = inputs.dedup_corpus(os.path.join(ctx.work, "inputs"), ctx.seed, cfg)
    docs = spark.read.parquet(path)
    ctx.info["inputs_s"] = round(time.monotonic() - t, 3)
    # warm-up, counted in setup_s: one pass over a quarter of the corpus
    # (ids are a seeded permutation of 0..n-1, so a random quarter)
    warm = docs.filter(docs.id < cfg["docs"] // 4)
    res = dedup_once(spark, warm, os.path.join(ctx.work, "warmup"))
    account(ctx.ops, res)
    ctx.info["warmup_s"] = round(res["wall"], 3)
    ctx.ops.check("no cache survives the warm-up", no_cache_survives, spark)
    shutil.rmtree(os.path.join(ctx.work, "warmup"), ignore_errors=True)
    return {"cfg": cfg, "docs": docs, "planted": planted, "n": cfg["docs"]}


def measure(spark, ctx, st: dict) -> dict:
    docs, n = st["docs"], st["n"]
    ctx.mark_setup_done()
    runs, k = [], 0
    deadline = time.monotonic() + ctx.seconds
    while True:
        out = os.path.join(ctx.work, f"out{k}")
        res = dedup_once(spark, docs, out)
        account(ctx.ops, res)
        runs.append((res, out))
        k += 1
        if time.monotonic() >= deadline or res["error"] is not None:
            break
        ctx.ops.check("no cache survives a repetition", no_cache_survives, spark)
        shutil.rmtree(out, ignore_errors=True)
    last, out = runs[-1]
    if last["error"] is None:
        run_checks(spark, ctx, docs, last, st["planted"], out)
    ctx.ops.check("no cache survives the run", no_cache_survives, spark)
    ok = [r for r, _ in runs if r["error"] is None]
    if not ok:
        return {}
    ctx.info.update({"passes": len(ok), "docs": n,
                     "stage_s": {k: round(v, 3) for k, v in ok[-1]["lat"].items()}})
    return {
        "docs_per_s": statistics.median(n / r["wall"] for r in ok),
        "cpu_us_per_doc": statistics.median(1e6 * r["cpu"] / n for r in ok),
        "pairs_p50_s": statistics.median(r["lat"]["pairs"] for r in ok),
    }


def trace(spark, ctx, st: dict) -> dict:
    from colymer_acquirers_spark.operators import cleaning, ckpt, dedup

    docs, n = st["docs"], st["n"]
    ctx.mark_setup_done()
    tr = spanlib.Tracer()
    tr.trace_id = "dedup-corpus"
    for name in ("minhash_near_dups_verified", "minhash_lsh_pairs",
                 "near_dup_components", "dedup_keep_representatives", "flat_checkpoint"):
        tr.wrap(dedup, name, f"operators.dedup.{name}")
    tr.wrap(ckpt, "flat_checkpoint", "operators.ckpt.flat_checkpoint")
    tr.wrap(cleaning, "line_dedup", "operators.cleaning.line_dedup")
    jvm = procstat.jvm_pid()
    thr0, py0 = procstat.jvm_thread_cpu(jvm), procstat.pyworker_cpu_s(jvm)
    out = os.path.join(ctx.work, "traced")
    ctx.event_window_open()
    try:
        traced = dedup_once(spark, docs, out, tracer=tr)
    finally:
        tr.close()
    ctx.event_window_close()
    thr = procstat.thread_group_delta(thr0, procstat.jvm_thread_cpu(jvm))
    py = procstat.pyworker_cpu_s(jvm) - py0
    account(ctx.ops, traced)
    ctx.ops.check("no cache survives the traced pass", no_cache_survives, spark)
    ref = dedup_once(spark, docs, os.path.join(ctx.work, "reference"))
    account(ctx.ops, ref)
    if traced["error"] is not None or ref["error"] is not None:
        return {}
    recall = run_checks(spark, ctx, docs, traced, st["planted"], out)
    ctx.ops.check("no cache survives the reference pass", no_cache_survives, spark)

    sp = tr.spans
    stage_span = {s["name"]: s for s in sp if s["name"].startswith("stage.")}
    comp_stage = stage_span["stage.components"]
    ckpt_in_cc = [
        s for s in sp if s["name"].endswith("flat_checkpoint")
        and comp_stage["start"] <= s["start"] and s["end"] <= comp_stage["end"]
    ]
    m = {
        "operators.dedup.pairs_s": traced["lat"]["pairs"],
        "operators.dedup.components_s": traced["lat"]["components"],
        "operators.dedup.planted_recall": recall,
        "operators.ckpt.checkpoint_s": sum(s["end"] - s["start"] for s in ckpt_in_cc),
        "operators.cleaning.lines_removed_ratio": traced["lines_removed_ratio"],
    }
    lsh_cached: list = []
    n_cand = dedup.minhash_lsh_pairs(docs, "id", "text", persisted=lsh_cached).count()
    for df in lsh_cached:
        df.unpersist()
    m["operators.dedup.candidates"] = n_cand
    m["operators.dedup.verify_precision"] = len(traced["pairs"]) / max(n_cand, 1)
    pairs = traced["pairs_df"]
    t = time.monotonic()
    kept = dedup.dedup_keep_representatives(docs, pairs, "id")
    kept.write.format("noop").mode("overwrite").save()
    m["operators.dedup.keep_s"] = time.monotonic() - t
    kept_ck = kept.localCheckpoint(eager=True)
    t = time.monotonic()
    cleaning.line_dedup(kept_ck, "id", "text").write.format("noop").mode("overwrite").save()
    m["operators.cleaning.line_dedup_s"] = time.monotonic() - t
    m["jvm.task_cpu_s"], m["jvm.jit_cpu_s"], m["jvm.gc_cpu_s"] = (
        thr["task"], thr["jit"], thr["gc"])
    m["pyworker.cpu_s"] = py
    m["trace.overhead_share"] = 1.0 - ref["wall"] / traced["wall"]
    ctx.info.update({"traced_wall_s": traced["wall"], "reference_wall_s": ref["wall"],
                     "spans": len(sp)})
    tr.dump(ctx.spans_path)
    return m
