#!/usr/bin/env python
"""spark-submit entry point (SURVEY.md §3.1 engine equivalent).

Reference analog: ``python scan.py <site> [-a]`` (``scan.py:77-124``) — CLI
parse → client construction → task loop. Here:

    spark-submit --py-files colymer_acquirers_spark.zip run_crawl.py \
        --pages /path/pages.parquet --seeds /path/seeds.parquet \
        --politeness /path/politeness.parquet --robots /path/robots.parquet \
        --workdir /path/checkpoints --rounds 10

or, for a self-contained demo on the synthetic web:

    python run_crawl.py --synth 100000 --workdir /tmp/crawl --rounds 5
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from colymer_acquirers_spark.plans.crawl import run_crawl  # noqa: E402
from colymer_acquirers_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description="PySpark URL-frontier crawl")
    ap.add_argument("--pages", help="pages parquet path (url,warc_ts,html,text,lang)")
    ap.add_argument("--seeds", help="seeds parquet path (url,priority)")
    ap.add_argument("--politeness", help="politeness parquet path (optional)")
    ap.add_argument("--robots", help="robots parquet path (optional)")
    ap.add_argument("--synth", type=int, metavar="N",
                    help="generate an N-page synthetic web instead of --pages/--seeds")
    ap.add_argument("--workdir", required=True,
                    help="checkpoint dir: resumed if it holds committed "
                         "rounds; a fresh crawl takes a new or empty dir")
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--default-budget", type=int, default=1_000_000)
    ap.add_argument("--master", default=None, help="override spark master")
    ap.add_argument("--boundary-mode", choices=["continue", "break"], default="continue")
    ap.add_argument("--use-bloom", action="store_true",
                    help="prefilter the seen-set anti-join with a "
                         "probabilistic shard tier")
    ap.add_argument("--compact-every", type=int, default=8,
                    help="compact seen/pinned state every K rounds (0=never)")
    ap.add_argument("--round-seconds", type=float, default=None,
                    help="derive per-host budgets from politeness "
                         "crawl_delay_s (floor(round_seconds/delay)) "
                         "instead of using max_fetch_per_round as given")
    ap.add_argument("--evict", metavar="PARQUET",
                    help="re-crawl: evict these urls (column `url`) from "
                         "the seen state and reseed them into the frontier "
                         "before running")
    args = ap.parse_args()

    spark = get_spark(app_name="run_crawl", master=args.master)
    if args.synth:
        from colymer_acquirers_spark.sources.synth import (
            synth_pages, synth_politeness, synth_robots, synth_seeds,
        )
        pages = synth_pages(spark, args.synth)
        seeds = synth_seeds(spark, max(8, args.synth // 1000))
        politeness = synth_politeness(spark)
        robots = synth_robots(spark)
    else:
        if not (args.pages and args.seeds):
            ap.error("--pages and --seeds required unless --synth")
        pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds)
        politeness = spark.read.parquet(args.politeness) if args.politeness else None
        robots = spark.read.parquet(args.robots) if args.robots else None

    if args.round_seconds and politeness is not None:
        from colymer_acquirers_spark.operators.politeness import (
            budget_from_delay,
        )

        politeness = budget_from_delay(politeness, args.round_seconds)

    reseed = None
    if args.evict:
        from pyspark.sql import functions as F

        from colymer_acquirers_spark.plans.crawl import evict_seen

        evicted = spark.read.parquet(args.evict).select("url")
        evict_seen(spark, args.workdir, evicted)
        reseed = evicted.withColumn("priority", F.lit(0).cast("int"))

    summary = run_crawl(
        spark, pages, seeds, politeness, robots, args.workdir,
        max_rounds=args.rounds, default_budget=args.default_budget,
        boundary_mode=args.boundary_mode,
        use_bloom=args.use_bloom,
        compact_every=args.compact_every,
        reseed=reseed,
    )
    print(json.dumps(summary, default=int))
    return 0


if __name__ == "__main__":
    sys.exit(main())
