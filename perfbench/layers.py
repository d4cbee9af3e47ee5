"""The per-layer metrics a traced run reports, with their units.

Every traced run prints every metric. A layer the workload does not run
reads 0: for example ``operators.seen_bloom.*`` and ``plans.crawl.*`` on
``dedup-corpus``, and ``operators.dedup.*`` on ``recrawl-deep``. README.md
maps each metric to the end-to-end metric it should move.
"""

from eventlog import GROUPS

PER_LAYER = {
    "plans.crawl.bootstrap_s": "s",
    "plans.crawl.between_rounds_s": "s",
    "plans.crawl.resume_s": "s",
    "plans.round.construct_s": "s",
    "plans.round.writes_s": "s",
    "sources.tables.write_s.crawl_order": "s",
    "sources.tables.write_s.frontier_next": "s",
    "sources.tables.write_s.attachments_new": "s",
    "sources.tables.write_s.articles": "s",
    "sources.tables.write_s.lineage": "s",
    "sources.tables.compact_s": "s",
    "sources.tables.bytes_per_url": "B/URL",
    "functions.parse.pages_per_s": "page/s",
    "functions.canonical.urls_per_s": "URL/s",
    "operators.seen.dedup_s": "s",
    "operators.seen.merge_frontier_s": "s",
    "operators.seen.drop_ratio": "ratio",
    "operators.seen_bloom.probe_s": "s",
    "operators.seen_bloom.build_merge_s": "s",
    "operators.seen_bloom.positive_ratio": "ratio",
    "operators.seen_bloom.false_positive_ratio": "ratio",
    "operators.politeness.split_s": "s",
    "operators.politeness.fetch_ratio": "ratio",
    "operators.politeness.blocked_ratio": "ratio",
    "operators.ranking.rank_s": "s",
    "operators.dedup.pairs_s": "s",
    "operators.dedup.candidates": "count",
    "operators.dedup.verify_precision": "ratio",
    "operators.dedup.planted_recall": "ratio",
    "operators.dedup.components_s": "s",
    "operators.dedup.keep_s": "s",
    "operators.ckpt.checkpoint_s": "s",
    "operators.cleaning.line_dedup_s": "s",
    "operators.cleaning.lines_removed_ratio": "ratio",
    "session.get_spark_s": "s",
    "jvm.task_cpu_s": "s",
    "jvm.jit_cpu_s": "s",
    "jvm.gc_cpu_s": "s",
    "jvm.peak_rss_mb": "MB",
    "pyworker.cpu_s": "s",
    "spark.task_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.idle_core_share": "ratio",
    "spark.cache_peak_mb": "MB",
    **{f"spark.task_s.{g}": "s" for g in GROUPS},
    **{f"spark.shuffle_write_mb.{g}": "MB" for g in GROUPS},
    **{f"spark.spill_mb.{g}": "MB" for g in GROUPS},
    "trace.overhead_share": "ratio",
    "trace.attributed_share": "ratio",
}
