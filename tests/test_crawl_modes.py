"""Mode-variant equivalence (SURVEY.md §5.4 tests 1, 4, 5):

- bloom-prefiltered crawl ≡ exact crawl ≡ pyref (bloom soundness end-to-end)
- break-boundary crawl ≡ pyref break mode (P9 variant), differing from
  continue mode on the same pre-seen state
- kill/resume ≡ straight run
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from colymer_acquirers_spark import pyref
from colymer_acquirers_spark.operators.seen_bloom import BloomSeen
from colymer_acquirers_spark.plans.crawl import (
    committed_rounds,
    read_output,
    run_crawl,
)
from colymer_acquirers_spark.sources.synth import (
    synth_pages,
    synth_politeness,
    synth_robots,
    synth_seeds,
)

N_PAGES = 250
ROUNDS = 3


@pytest.fixture(scope="module")
def web(spark):
    return (
        synth_pages(spark, N_PAGES),
        synth_seeds(spark, 10),
        synth_politeness(spark),
        synth_robots(spark),
    )


def _order(spark, wd):
    return (
        read_output(spark, wd, "crawl_order")
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)[["rank", "url", "round"]]
        .astype({"rank": "int64", "round": "int64"})
    )


def _pyref_order(res):
    return res.crawl_order.sort_values("rank").reset_index(drop=True).astype(
        {"rank": "int64", "round": "int64"}
    )


def test_bloom_crawl_identical_to_exact(spark, web, tmp_path_factory):
    pages, seeds, pol, rob = web
    wd_exact = str(tmp_path_factory.mktemp("exact"))
    wd_bloom = str(tmp_path_factory.mktemp("bloom"))
    run_crawl(spark, pages, seeds, pol, rob, wd_exact, max_rounds=ROUNDS)
    run_crawl(
        spark, pages, seeds, pol, rob, wd_bloom, max_rounds=ROUNDS,
        use_bloom=True, bloom_filter=BloomSeen(n_shards=8, m_bits=1 << 16),
    )
    a, b = _order(spark, wd_exact), _order(spark, wd_bloom)
    pd.testing.assert_frame_equal(a, b)
    sa = set(read_output(spark, wd_exact, "seen_delta").toPandas()["canonical_url"])
    sb = set(read_output(spark, wd_bloom, "seen_delta").toPandas()["canonical_url"])
    assert sa == sb


def test_break_mode_matches_pyref(spark, web, tmp_path_factory):
    pages, seeds, pol, rob = web
    # pre-seen state: every 3rd page URL → frontier genuinely hits boundaries
    pre = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0).select(
        F.col("url").alias("canonical_url")
    )
    pre_set = set(pre.toPandas()["canonical_url"])

    golden = pyref.crawl(
        pages.toPandas(), seeds.toPandas(), pol.toPandas(), rob.toPandas(),
        max_rounds=ROUNDS, boundary_mode="break", initial_seen=pre_set,
    )
    wd = str(tmp_path_factory.mktemp("break"))
    run_crawl(
        spark, pages, seeds, pol, rob, wd, max_rounds=ROUNDS,
        boundary_mode="break", initial_seen=pre,
    )
    pd.testing.assert_frame_equal(_order(spark, wd), _pyref_order(golden))

    # and continue-mode on the same state must differ (the P9 distinction)
    golden_cont = pyref.crawl(
        pages.toPandas(), seeds.toPandas(), pol.toPandas(), rob.toPandas(),
        max_rounds=ROUNDS, boundary_mode="continue", initial_seen=pre_set,
    )
    wd2 = str(tmp_path_factory.mktemp("cont"))
    run_crawl(
        spark, pages, seeds, pol, rob, wd2, max_rounds=ROUNDS,
        boundary_mode="continue", initial_seen=pre,
    )
    pd.testing.assert_frame_equal(_order(spark, wd2), _pyref_order(golden_cont))
    assert not _order(spark, wd).equals(_order(spark, wd2)), (
        "break and continue should differ on a boundary-hitting state"
    )


def test_resume_identical(spark, web, tmp_path_factory):
    pages, seeds, pol, rob = web
    wd_full = str(tmp_path_factory.mktemp("full"))
    wd_resume = str(tmp_path_factory.mktemp("resume"))
    run_crawl(spark, pages, seeds, pol, rob, wd_full, max_rounds=ROUNDS)
    run_crawl(spark, pages, seeds, pol, rob, wd_resume, max_rounds=1)
    run_crawl(spark, pages, seeds, pol, rob, wd_resume, max_rounds=ROUNDS)
    pd.testing.assert_frame_equal(_order(spark, wd_full), _order(spark, wd_resume))


def test_resume_toggling_bloom_on(spark, web, tmp_path_factory):
    """Resume a bloom-less workdir WITH use_bloom=True: results identical to
    a straight run, and the rebuilt bloom must cover the pre-resume rounds'
    URLs (never-false-drop: earlier-seen must not probe 'definitely unseen').
    """
    pages, seeds, pol, rob = web
    wd_full = str(tmp_path_factory.mktemp("bfull"))
    wd_tog = str(tmp_path_factory.mktemp("btog"))
    bf = BloomSeen(n_shards=8, m_bits=1 << 16)
    run_crawl(spark, pages, seeds, pol, rob, wd_full, max_rounds=ROUNDS)
    run_crawl(spark, pages, seeds, pol, rob, wd_tog, max_rounds=1)  # no bloom
    run_crawl(
        spark, pages, seeds, pol, rob, wd_tog, max_rounds=ROUNDS,
        use_bloom=True, bloom_filter=bf,
    )
    pd.testing.assert_frame_equal(_order(spark, wd_full), _order(spark, wd_tog))
    # the first bloom written after the toggle (round 1) must cover round 0
    import os

    from colymer_acquirers_spark.operators.seen_bloom import BLOOM_SCHEMA

    bloom = spark.read.schema(BLOOM_SCHEMA).parquet(
        os.path.join(wd_tog, "rounds", "1", "bloom")
    )
    round0 = read_output(spark, wd_tog, "seen_delta", upto=0)
    probed = bf.probe(round0.withColumnRenamed("canonical_url", "canonical_url"), bloom)
    n_missed = probed.filter(~F.col("maybe_seen")).count()
    assert n_missed == 0, "rebuilt bloom must cover pre-resume seen URLs"


def test_break_split_plan_has_no_window(spark, web):
    """Scale assertion: break-mode boundary split must not contain a Window
    over host (a hot host would serialize into one task at 10^10 rows)."""
    from colymer_acquirers_spark.operators.seen import boundary_break_split
    from colymer_acquirers_spark.plans.round import bootstrap_frontier

    pages, seeds, _, _ = web
    frontier = bootstrap_frontier(seeds)
    seen = pages.select(F.col("url").alias("canonical_url")).limit(50)
    cand, deferred = boundary_break_split(frontier, seen)
    for df in (cand, deferred):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan, plan


def test_compaction_identical_and_bounded_reads(spark, web, tmp_path_factory):
    """compact_every=1 (compaction after every round) must produce results
    identical to compact_every=0 (never), the compaction tables must exist,
    and read_seen must source from the latest compaction + bounded tail."""
    import os

    from colymer_acquirers_spark.plans.crawl import (
        _committed_compactions,
        read_seen,
    )

    pages, seeds, pol, rob = web
    wd_none = str(tmp_path_factory.mktemp("cnone"))
    wd_comp = str(tmp_path_factory.mktemp("ccomp"))
    run_crawl(spark, pages, seeds, pol, rob, wd_none, max_rounds=ROUNDS,
              compact_every=0)
    run_crawl(spark, pages, seeds, pol, rob, wd_comp, max_rounds=ROUNDS,
              compact_every=1)
    pd.testing.assert_frame_equal(_order(spark, wd_none), _order(spark, wd_comp))
    comps = _committed_compactions(wd_comp)
    assert comps == list(range(ROUNDS)), comps
    # seen state via compaction equals the naive all-deltas union
    via_comp = set(
        read_seen(spark, wd_comp, ROUNDS - 1).toPandas()["canonical_url"]
    )
    naive = set(
        read_output(spark, wd_none, "seen_delta").toPandas()["canonical_url"]
    )
    assert via_comp == naive
    # and resume on a compacted workdir stays identical
    wd_res = str(tmp_path_factory.mktemp("cres"))
    run_crawl(spark, pages, seeds, pol, rob, wd_res, max_rounds=1,
              compact_every=1)
    run_crawl(spark, pages, seeds, pol, rob, wd_res, max_rounds=ROUNDS,
              compact_every=1)
    pd.testing.assert_frame_equal(_order(spark, wd_none), _order(spark, wd_res))


def _assert_manifests_match(wd, golden):
    """Every committed manifest's metrics equal pyref's round by round, with
    no negative count anywhere and the driver phase timings beside them."""
    import json
    import os

    assert committed_rounds(wd) == list(range(len(golden.metrics)))
    for ref_m in golden.metrics:
        path = os.path.join(wd, "rounds", str(ref_m["round"]), "manifest.json")
        with open(path) as f:
            man = json.load(f)
        em = man["metrics"]
        for key in ref_m:
            assert em[key] == ref_m[key], (em["round"], key, em[key], ref_m[key])
        counts = [v for v in em.values() if isinstance(v, int)]
        counts += list(em["fetched_by_partition"].values())
        assert min(counts) >= 0, em
        assert set(man["phases_s"]) == {"construct", "writes", "metrics", "bloom"}


@pytest.mark.parametrize(
    "mode",
    [
        # the recrawl shape: bloom prefilter, compaction every round, and a
        # second run_crawl call resuming after round 0
        pytest.param(
            dict(use_bloom=True, compact_every=1, resume_after=1), id="bloom-resume"
        ),
        pytest.param(dict(boundary_mode="break"), id="break"),
        pytest.param(dict(no_robots=True), id="no-robots"),
    ],
)
def test_manifest_metrics_match_pyref(spark, web, tmp_path_factory, mode):
    """Every round's manifest holds exact counts (no -1 anywhere) equal to
    pyref's for every metric key, in each crawl configuration, plus the
    driver phase timings beside them."""
    pages, seeds, pol, rob = web
    mode = dict(mode)
    resume_after = mode.pop("resume_after", None)
    no_robots = mode.pop("no_robots", False)
    pre = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0).select(
        F.col("url").alias("canonical_url")
    )
    rob_pd = rob.toPandas()
    golden = pyref.crawl(
        pages.toPandas(), seeds.toPandas(), pol.toPandas(),
        rob_pd.iloc[:0] if no_robots else rob_pd,
        max_rounds=ROUNDS, boundary_mode=mode.get("boundary_mode", "continue"),
        initial_seen=set(pre.toPandas()["canonical_url"]),
    )
    wd = str(tmp_path_factory.mktemp("metrics"))
    robots = None if no_robots else rob
    for rounds in ([resume_after] if resume_after else []) + [ROUNDS]:
        run_crawl(
            spark, pages, seeds, pol, robots, wd, max_rounds=rounds,
            initial_seen=pre, **mode,
        )
    _assert_manifests_match(wd, golden)


def test_manifest_metrics_match_pyref_until_frontier_empty(spark, tmp_path_factory):
    """A small web crawled until no frontier is left: the last rounds merge
    (nearly) empty inputs, and their manifests must still equal pyref's."""
    pages, seeds = synth_pages(spark, 40), synth_seeds(spark, 5)
    pol, rob = synth_politeness(spark), synth_robots(spark)
    max_rounds = 20
    golden = pyref.crawl(
        pages.toPandas(), seeds.toPandas(), pol.toPandas(), rob.toPandas(),
        max_rounds=max_rounds,
    )
    assert len(golden.metrics) < max_rounds  # the frontier runs out first
    wd = str(tmp_path_factory.mktemp("until_empty"))
    res = run_crawl(spark, pages, seeds, pol, rob, wd, max_rounds=max_rounds)
    _assert_manifests_match(wd, golden)
    assert res["metrics"][-1]["frontier_next_count"] == 0
