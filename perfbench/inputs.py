"""Workload inputs, generated from ``--seed`` and stored as parquet tables.

The program only ever reads these tables. ``synth_pages`` is used as a
library for page bodies (the pages do not depend on the seed); the seed
picks everything else: which pages are seed URLs and with what priority,
which pages are already seen before the crawl starts, each host's crawl
delay multiplier, and the whole dedup corpus.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def crawl_tables(spark, out_dir: str, seed: int, cfg: dict) -> dict[str, str]:
    """Write pages, seeds, politeness, robots and initial_seen parquet
    tables for a crawl workload; returns name -> path."""
    from pyspark.sql import functions as F

    from colymer_acquirers_spark.functions.canonical import canonicalize_url
    from colymer_acquirers_spark.operators.politeness import budget_from_delay
    from colymer_acquirers_spark.sources.synth import (
        synth_pages,
        synth_politeness,
        synth_robots,
    )

    n = cfg["pages"]
    paths = {k: os.path.join(out_dir, k) for k in
             ("pages", "seeds", "politeness", "robots", "initial_seen")}
    synth_pages(spark, n, words_mult=cfg["words_mult"]).write.mode(
        "overwrite").parquet(paths["pages"])
    pages = spark.read.parquet(paths["pages"])
    s = F.lit(seed)
    pages.filter(
        F.pmod(F.xxhash64("url", s, F.lit(1)), F.lit(n)) < cfg["seeds"]
    ).select(
        "url", F.pmod(F.xxhash64("url", s, F.lit(2)), F.lit(3)).cast("int").alias("priority")
    ).write.mode("overwrite").parquet(paths["seeds"])
    pages.filter(
        F.pmod(F.xxhash64("url", s, F.lit(3)), F.lit(1000)) < int(1000 * cfg["seen_share"])
    ).select(canonicalize_url("url").alias("canonical_url")).write.mode(
        "overwrite").parquet(paths["initial_seen"])
    # host crawl-delay multipliers {2, 1, 2/3}, so budgets {B/2, B, 1.5B}:
    # the seed deals a fixed multiset of them (as many 2s as 2/3s, so the
    # mean budget is B per host per round) to the hosts in a seeded order.
    # With B small enough that every host's budget binds, a round fetches
    # the same number of URLs whatever the seed.
    politeness = synth_politeness(spark)
    hosts = sorted(r[0] for r in politeness.select("host").collect())
    k = len(hosts) // 3
    mults = [2.0] * k + [2.0 / 3.0] * k + [1.0] * (len(hosts) - 2 * k)
    deal = np.random.default_rng(seed).permutation(len(hosts))
    delays = spark.createDataFrame(
        [(h, mults[i]) for h, i in zip(hosts, deal)], "host string, crawl_delay_s double")
    budget_from_delay(
        politeness.drop("crawl_delay_s").join(delays, "host"),
        round_seconds=float(cfg["budget"]),
    ).write.mode("overwrite").parquet(paths["politeness"])
    synth_robots(spark).write.mode("overwrite").parquet(paths["robots"])
    return paths


def dedup_corpus(out_dir: str, seed: int, cfg: dict) -> tuple[str, list[tuple[int, int]]]:
    """Write the dedup corpus (id, text) as parquet.

    Documents are ``cfg['min_words']``..``cfg['max_words']`` words over a
    ``cfg['vocab']``-word vocabulary, in lines of 15 words. A share
    ``cfg['dup_share']`` of documents are planted near-duplicates of a base
    document: same length, at most 10% of word positions replaced. A share
    ``cfg['boiler_share']`` of base documents end with one of 20 shared
    boilerplate lines. Returns (path, planted (base_id, dup_id) pairs).
    """
    rng = np.random.default_rng(seed)
    n = cfg["docs"]
    n_dup = int(n * cfg["dup_share"])
    n_base = n - n_dup
    vocab = np.array([f"w{i}" for i in range(cfg["vocab"])], dtype=object)
    boiler = [
        " ".join(f"b{j}x{i}" for i in range(8)) for j in range(20)
    ]
    lengths = rng.integers(cfg["min_words"], cfg["max_words"] + 1, size=n_base)
    words = [rng.integers(0, cfg["vocab"], size=k) for k in lengths]
    has_boiler = rng.random(n_base) < cfg["boiler_share"]
    boiler_pick = rng.integers(0, len(boiler), size=n_base)
    bases = rng.integers(0, n_base, size=n_dup)
    for b in bases:
        w = words[b].copy()
        n_edit = int(rng.integers(0, len(w) // 10 + 1))
        pos = rng.choice(len(w), size=n_edit, replace=False)
        w[pos] = rng.integers(0, cfg["vocab"], size=n_edit)
        words.append(w)
    src = np.concatenate([np.arange(n_base), bases])
    ids = rng.permutation(n).astype(np.int64)

    def text(i: int) -> str:
        w = vocab[words[i]]
        lines = [" ".join(w[j:j + 15]) for j in range(0, len(w), 15)]
        b = src[i]
        if has_boiler[b]:
            lines.append(boiler[boiler_pick[b]])
        return "\n".join(lines)

    table = pa.table({"id": ids, "text": [text(i) for i in range(n)]})
    path = os.path.join(out_dir, "corpus")
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    planted = [
        (int(min(ids[bases[j]], ids[n_base + j])), int(max(ids[bases[j]], ids[n_base + j])))
        for j in range(n_dup)
    ]
    return path, planted
