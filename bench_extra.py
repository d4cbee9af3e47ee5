#!/usr/bin/env python
"""Catalog-leaf measurement harness (bench.py is FROZEN — this file holds
the extra instrumentation: per-leaf timings, plans, one traced crawl).

Modes:
  python bench_extra.py queries [name ...]   # time each catalog query with a
                                             # noop sink (guide §1.4), N reps
  python bench_extra.py explain [name ...]   # write explain("formatted") to
                                             # plans/r08/<name>_<tag>.txt
  python bench_extra.py crawl               # one crawl (bench workload) with
                                             # SPARK_GRAFT_TRACE honoring env

Env:
  SPARK_GRAFT_SF_DIR (default: the sf0.1 test data, see SF_DIR),
  SPARK_GRAFT_CPUS (default: the machine's core count), BENCH_EXTRA_REPS
  (default 3), BENCH_EXTRA_TAG (explain file suffix, default "before").
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# local[N] at the machine's core count, as session.get_spark defaults
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
REPS = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
TAG = os.environ.get("BENCH_EXTRA_TAG", "before")

HEADLINE = [
    "fetch_join_revenue",
    "seen_anti_join",
    "politeness_window_rank",
    "argmax_best_variant",
    "explode_word_count",
    "minhash_signature",
    "ann_topk_variants",
    "crawl_one_round_schedule",
    "dedup_exact_hash",
    "simhash16",
    "ngram_jaccard_variants",
    "token_counts",
    "repetition_signals",
    "minhash_near_dups_verified",
    "near_dup_clusters",
    "decontamination_flags",
    "line_dedup_clean",
    "pii_redaction",
    "corpus_pipeline",
]


def _tmpfs() -> None:
    if not os.path.isdir("/dev/shm"):
        return
    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    prev = os.environ.get("SPARK_GRAFT_CONF", "")
    if "spark.local.dir" not in prev:
        os.environ["SPARK_GRAFT_CONF"] = (
            (prev + ";" if prev else "") + "spark.local.dir=/dev/shm/spark-local"
        )


def _spark():
    from colymer_acquirers_spark.session import get_spark

    _tmpfs()
    return get_spark(app_name="bench_extra", master=f"local[{CPUS}]")


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    names = sys.argv[2:] or HEADLINE
    from __spark_entry__ import queries

    qmap = queries()
    spark = _spark()
    if mode == "explain":
        out_dir = os.path.join(REPO, "plans", "r08")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = qmap[name](spark, SF_DIR)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{TAG}.txt")
            with open(path, "w") as f:
                f.write(txt)
            print(f"wrote {path} ({len(txt)} bytes)")
        return
    if mode == "crawl":
        import importlib

        bench = importlib.import_module("bench")
        wall, urls, cpu = bench._crawl_bench(spark)
        print(json.dumps({"wall": round(wall, 3), "urls": urls, "cpu": round(cpu, 1)}))
        return
    # queries mode
    results: dict[str, list[float]] = {}
    for name in names:
        runs = []
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.monotonic()
            df = qmap[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.monotonic() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = runs
        print(f"{name}: {runs} (median {sorted(runs)[len(runs)//2]})", flush=True)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
