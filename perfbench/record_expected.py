"""Record the per-seed expected outputs that ``run.py`` checks against.

    python3 perfbench/record_expected.py --workload recrawl-deep --seeds 0-31

For each seed it generates the workload's inputs at full scale, runs one
operation and stores the ``crawl_order`` digest (recrawl-deep) or the
planted-pair recall (dedup-corpus) in ``perfbench/expected.json``. Run it only against a commit
whose outputs are known to be right: later runs fail any seed whose output
differs from what is recorded here.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    p.add_argument("--seeds", required=True, help="first-last, e.g. 0-31")
    args = p.parse_args(argv)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    sys.path.insert(0, run.ROOT)
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ.update({"PYTHONPATH": run.ROOT, "TMPDIR": os.path.join(work, "tmp"),
                       "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
                       "SPARK_GRAFT_CPUS": str(run.CORES)})
    import checks
    import crawl_workload
    import dedup_workload
    import inputs

    path = os.path.join(run.HERE, "expected.json")
    spark = run.start_spark(work, trace=False)
    try:
        for seed in range(lo, hi + 1):
            d = os.path.join(work, str(seed))
            if args.workload == "recrawl-deep":
                cfg = crawl_workload.CONFIGS["full"]
                inp = crawl_workload.Inputs(
                    spark, inputs.crawl_tables(spark, os.path.join(d, "in"), seed, cfg))
                for max_rounds in (cfg["first_rounds"], cfg["rounds"]):
                    res = crawl_workload.crawl_once(
                        spark, inp, os.path.join(d, "crawl"), cfg, max_rounds)
                    if res["error"] is not None:
                        raise res["error"]
                out = crawl_workload.collect_outputs(spark, inp, os.path.join(d, "crawl"))
                value = {"crawl_order_digest": checks.order_digest(out["order"])}
            else:
                cfg = dedup_workload.CONFIGS["full"]
                corpus, planted = inputs.dedup_corpus(os.path.join(d, "in"), seed, cfg)
                res = dedup_workload.dedup_once(
                    spark, spark.read.parquet(corpus), os.path.join(d, "out"))
                if res["error"] is not None:
                    raise res["error"]
                value = {"planted_recall": checks.planted_recall(planted, res["comps"])}
            spark.catalog.clearCache()
            shutil.rmtree(d, ignore_errors=True)
            with open(path) as f:
                table = json.load(f)
            table.setdefault(args.workload, {}).setdefault("full", {})[str(seed)] = value
            with open(path, "w") as f:
                json.dump(table, f, indent=1, sort_keys=True)
                f.write("\n")
            print(f"seed {seed}: {value}", flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
