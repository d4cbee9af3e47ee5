"""Mode-variant equivalence (SURVEY.md §5.4 tests 1, 4, 5):

- bloom-prefiltered crawl ≡ exact crawl, straight and through an
  evict-and-reseed call, also with the bloom turned on only at the reseed
- break-boundary crawl ≡ pyref break mode (P9 variant), differing from
  continue mode on the same pre-seen state
- kill/resume ≡ straight run
- step 1 (the seen check) runs only on a seed-built frontier, builds the
  bloom there and nowhere else, and every frontier_next is disjoint from
  seen as of its round
- initial_seen is refused once rounds have committed without it
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from colymer_acquirers_spark import pyref, schemas
from colymer_acquirers_spark.operators.seen_bloom import BloomSeen
from colymer_acquirers_spark.plans.crawl import (
    committed_rounds,
    evict_seen,
    read_output,
    read_seen,
    run_crawl,
)
from colymer_acquirers_spark.sources.synth import (
    synth_pages,
    synth_politeness,
    synth_robots,
    synth_seeds,
)
from colymer_acquirers_spark.sources.tables import read_table

N_PAGES = 250
ROUNDS = 3
ROUND_FILES = sorted(
    ["crawl_order", "articles", "attachments_new", "lineage", "frontier_next",
     "manifest.json"]
)
# step-1 calls of a round that checks seen with the bloom on
BLOOM_STEP1 = ("build_delta", "dedup_against_seen", "probe")


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


def _pre_seen(pages):
    """Every 3rd page url, seen before the crawl starts."""
    return pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0).select(
        F.col("url").alias("canonical_url")
    )


def _evict_first(spark, wd):
    """Evict the rank-0 url; returns it as a one-row reseed frame."""
    url = read_output(spark, wd, "crawl_order").orderBy("rank").first()["url"]
    target = spark.createDataFrame([(url, 0)], ["url", "priority"])
    evict_seen(spark, wd, target.select("url"))
    return target


def test_bloom_crawl_identical_to_exact(spark, web, tmp_path_factory, monkeypatch):
    """Bloom-on crawls over pre-seen state equal the exact one: straight
    (round 0 builds and probes a bloom) and through an evict-and-reseed
    call (its first round does), also on a workdir crawled without the
    bloom that turns it on only for the reseed call."""
    pages, seeds, pol, rob = web
    probes = []
    probe = BloomSeen.probe

    def counted_probe(self, *a):
        probes.append(1)
        return probe(self, *a)

    monkeypatch.setattr(BloomSeen, "probe", counted_probe)
    pre = _pre_seen(pages)
    wds = {name: str(tmp_path_factory.mktemp(name)) for name in ("exact", "bloom", "toggled")}
    for name, wd in wds.items():
        run_crawl(
            spark, pages, seeds, pol, rob, wd, max_rounds=ROUNDS,
            initial_seen=pre, use_bloom=name == "bloom",
        )
        target = _evict_first(spark, wd)
        run_crawl(
            spark, pages, seeds, pol, rob, wd, max_rounds=ROUNDS + 1,
            reseed=target, use_bloom=name != "exact",
        )
    # round 0 and the reseed round of "bloom"; the reseed round of "toggled"
    assert len(probes) == 3
    a, *others = [_order(spark, wd) for wd in wds.values()]
    assert set(a["round"]) == set(range(ROUNDS + 1))
    for b in others:
        pd.testing.assert_frame_equal(a, b)
    sa, *others = [
        set(read_output(spark, wd, "seen_delta").toPandas()["canonical_url"])
        for wd in wds.values()
    ]
    assert all(sb == sa for sb in others)


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
        _committed_stamps,
        read_pinned,
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
    comps = _committed_stamps(wd_comp, "seen_compact")
    assert comps == list(range(ROUNDS)), comps
    # seen state via compaction equals the naive all-deltas union
    via_comp = set(
        read_seen(spark, wd_comp, ROUNDS - 1).toPandas()["canonical_url"]
    )
    naive = set(
        read_output(spark, wd_none, "seen_delta").toPandas()["canonical_url"]
    )
    assert via_comp == naive
    # each round's compactions hold the seen urls and the pinned
    # attachment ids of every round up to it
    for k in comps:
        seen_k = read_table(spark, os.path.join(wd_comp, "seen_compact", str(k)))
        pinned_k = read_table(spark, os.path.join(wd_comp, "pinned_compact", str(k)))
        deltas = read_output(spark, wd_comp, "seen_delta", upto=k)
        atts = read_output(spark, wd_comp, "attachments_new", upto=k)
        assert _ids(seen_k, "canonical_url") == _ids(deltas, "canonical_url")
        assert _ids(pinned_k, "id") == _ids(atts, "id")
    # the pinned state read through the compaction is the union of every
    # round's attachments_new
    pinned = _ids(read_pinned(spark, wd_comp, ROUNDS - 1), "id")
    assert pinned and pinned == _ids(read_output(spark, wd_comp, "attachments_new"), "id")
    # and resume on a compacted workdir stays identical
    wd_res = str(tmp_path_factory.mktemp("cres"))
    run_crawl(spark, pages, seeds, pol, rob, wd_res, max_rounds=1,
              compact_every=1)
    run_crawl(spark, pages, seeds, pol, rob, wd_res, max_rounds=ROUNDS,
              compact_every=1)
    pd.testing.assert_frame_equal(_order(spark, wd_none), _order(spark, wd_res))


def _ids(df, col):
    """A frame's column as a set, asserting it holds no duplicate."""
    vals = df.toPandas()[col].tolist()
    assert len(vals) == len(set(vals)), col
    return set(vals)


def _assert_manifests_match(wd, golden):
    """Every committed manifest's metrics equal pyref's round by round, with
    no negative count anywhere and the driver phase timings beside them,
    and each round dir holds only the five outputs and the manifest."""
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
        assert set(man["phases_s"]) == {"construct", "writes", "metrics"}
        assert sorted(os.listdir(os.path.dirname(path))) == ROUND_FILES


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


def _count_step1(monkeypatch):
    """Record the step-1 operator calls and bloom builds of every run_round
    call; returns the list they land in, as (round, sorted call names)."""
    from colymer_acquirers_spark.plans import crawl as crawl_mod
    from colymer_acquirers_spark.plans import round as round_mod

    hits = []

    def counted(fn):
        def wrapper(*a, **k):
            hits.append(fn.__name__)
            return fn(*a, **k)

        return wrapper

    for name in ("dedup_against_seen", "boundary_break_split"):
        monkeypatch.setattr(round_mod, name, counted(getattr(round_mod, name)))
    for name in ("probe", "build_delta"):
        monkeypatch.setattr(BloomSeen, name, counted(getattr(BloomSeen, name)))
    per_round = []
    run_round = crawl_mod.run_round

    def counted_round(*a, **k):
        n = len(hits)
        out = run_round(*a, **k)
        per_round.append((a[5], tuple(sorted(hits[n:]))))
        return out

    monkeypatch.setattr(crawl_mod, "run_round", counted_round)
    return per_round


def _seen_after(spark, wd, k):
    seen_base = spark.read.schema(schemas.SEEN).parquet(
        os.path.join(wd, "initial_seen")
    )
    return read_seen(spark, wd, k, seen_base)


def _rows(df, key):
    return df.toPandas().sort_values(key).reset_index(drop=True)


def test_step1_runs_only_on_seed_built_frontiers(
    spark, web, tmp_path_factory, monkeypatch
):
    """A straight crawl and the same crawl split after round 1 both run
    step 1 in round 0 only and give identical outputs and seen; a later
    reseed call runs it in its first round only. Each step-1 round builds
    one bloom, probes it and runs the exact backstop; no other round
    touches the bloom."""
    pages, seeds, pol, rob = web
    kw = dict(initial_seen=_pre_seen(pages), use_bloom=True)
    calls = _count_step1(monkeypatch)
    wd_a = str(tmp_path_factory.mktemp("straight"))
    wd_b = str(tmp_path_factory.mktemp("split"))
    run_crawl(spark, pages, seeds, pol, rob, wd_a, max_rounds=ROUNDS, **kw)
    assert calls == [(0, BLOOM_STEP1), (1, ()), (2, ())]
    calls.clear()
    run_crawl(spark, pages, seeds, pol, rob, wd_b, max_rounds=1, **kw)
    run_crawl(spark, pages, seeds, pol, rob, wd_b, max_rounds=ROUNDS, **kw)
    assert calls == [(0, BLOOM_STEP1), (1, ()), (2, ())]

    pd.testing.assert_frame_equal(_order(spark, wd_a), _order(spark, wd_b))
    arts = [
        _rows(read_output(spark, wd, "articles").drop("attachments"), "canonical_url")
        for wd in (wd_a, wd_b)
    ]
    pd.testing.assert_frame_equal(*arts)
    lins = [
        _rows(read_output(spark, wd, "lineage"), ["src_url", "dst_url"])
        for wd in (wd_a, wd_b)
    ]
    pd.testing.assert_frame_equal(*lins)
    seens = [
        set(_seen_after(spark, wd, ROUNDS - 1).toPandas()["canonical_url"])
        for wd in (wd_a, wd_b)
    ]
    assert seens[0] == seens[1]

    calls.clear()
    target = _evict_first(spark, wd_b)
    run_crawl(
        spark, pages, seeds, pol, rob, wd_b, max_rounds=ROUNDS + 2,
        reseed=target, **kw,
    )
    assert calls == [(ROUNDS, BLOOM_STEP1), (ROUNDS + 1, ())]


@pytest.mark.parametrize(
    "mode",
    [
        pytest.param(
            dict(use_bloom=True, compact_every=1, resume_after=1),
            id="bloom-compact-resume",
        ),
        pytest.param(dict(boundary_mode="break"), id="break"),
        pytest.param(dict(use_bloom=True, evict_reseed=True), id="evict-reseed"),
    ],
)
def test_frontier_next_disjoint_from_seen(spark, web, tmp_path_factory, mode):
    """frontier_next(K) ∩ read_seen(K) = ∅ for every committed round: the
    fact that lets every round but a call's seed-built first one skip
    step 1."""
    pages, seeds, pol, rob = web
    mode = dict(mode)
    resume_after = mode.pop("resume_after", None)
    evict_reseed = mode.pop("evict_reseed", False)
    kw = dict(initial_seen=_pre_seen(pages), **mode)
    wd = str(tmp_path_factory.mktemp("disjoint"))
    for rounds in ([resume_after] if resume_after else []) + [ROUNDS]:
        run_crawl(spark, pages, seeds, pol, rob, wd, max_rounds=rounds, **kw)
    if evict_reseed:
        target = _evict_first(spark, wd)
        run_crawl(
            spark, pages, seeds, pol, rob, wd, max_rounds=ROUNDS + 2,
            reseed=target, **kw,
        )
    assert len(committed_rounds(wd)) == ROUNDS + (2 if evict_reseed else 0)
    _assert_disjoint_from_seen(spark, wd)


def _assert_disjoint_from_seen(spark, wd):
    for k in committed_rounds(wd):
        nxt = spark.read.schema(schemas.FRONTIER).parquet(
            os.path.join(wd, "rounds", str(k), "frontier_next")
        )
        hits = nxt.join(_seen_after(spark, wd, k), "canonical_url", "left_semi")
        assert hits.count() == 0, k


def test_initial_seen_only_before_the_first_round(
    spark, web, tmp_path_factory, monkeypatch
):
    """initial_seen given to a workdir whose committed rounds were crawled
    without it is refused and leaves nothing on disk, so no resumed round
    can meet seen urls it does not check; written by a call that runs no
    round, it is checked in round 0 of the next call, and both crawls
    equal pyref's."""
    pages, seeds, pol, rob = web
    pre = _pre_seen(pages)
    pd_args = (pages.toPandas(), seeds.toPandas(), pol.toPandas(), rob.toPandas())
    kw = dict(initial_seen=pre, use_bloom=True)

    wd_a = str(tmp_path_factory.mktemp("late_seen"))
    run_crawl(spark, pages, seeds, pol, rob, wd_a, max_rounds=1)
    for rounds in (1, ROUNDS):
        with pytest.raises(ValueError, match="initial_seen"):
            run_crawl(spark, pages, seeds, pol, rob, wd_a, max_rounds=rounds, **kw)
    assert not os.path.exists(os.path.join(wd_a, "initial_seen"))
    assert committed_rounds(wd_a) == [0]
    run_crawl(spark, pages, seeds, pol, rob, wd_a, max_rounds=ROUNDS, use_bloom=True)
    golden = pyref.crawl(*pd_args, max_rounds=ROUNDS)
    pd.testing.assert_frame_equal(_order(spark, wd_a), _pyref_order(golden))

    calls = _count_step1(monkeypatch)
    wd_b = str(tmp_path_factory.mktemp("seen_no_round"))
    assert run_crawl(spark, pages, seeds, pol, rob, wd_b, max_rounds=0, **kw)[
        "rounds"
    ] == []
    run_crawl(spark, pages, seeds, pol, rob, wd_b, max_rounds=ROUNDS, **kw)
    assert calls == [(0, BLOOM_STEP1), (1, ()), (2, ())]
    golden = pyref.crawl(
        *pd_args, max_rounds=ROUNDS,
        initial_seen=set(pre.toPandas()["canonical_url"]),
    )
    pd.testing.assert_frame_equal(_order(spark, wd_b), _pyref_order(golden))
    _assert_disjoint_from_seen(spark, wd_b)


def test_run_crawl_leaves_no_persisted_rdd(spark, web, tmp_path_factory):
    """A fresh call with initial_seen and a reseed call each leave no
    persisted RDD behind: the seed-built frontier is freed after its
    round commits."""
    pages, _, pol, rob = web
    # seeds no other test uses: a frontier an earlier crawl leaked over the
    # module's seeds would match structurally and hide a new one
    seeds = synth_seeds(spark, 7)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keySet())
    wd = str(tmp_path_factory.mktemp("nocache"))
    kw = dict(initial_seen=_pre_seen(pages), use_bloom=True)
    run_crawl(spark, pages, seeds, pol, rob, wd, max_rounds=2, **kw)
    assert set(rdds().keySet()) - before == set()
    target = _evict_first(spark, wd)
    run_crawl(spark, pages, seeds, pol, rob, wd, max_rounds=3, reseed=target, **kw)
    assert set(rdds().keySet()) - before == set()


def test_pooled_tasks_set_and_clear_their_job_description(
    spark, web, tmp_path_factory, monkeypatch
):
    """The rank-counts job runs under its own description, not a write's,
    and a pool thread reused after a tagged task carries no description."""
    from concurrent.futures import ThreadPoolExecutor

    from colymer_acquirers_spark.operators.ranking import RankInfo
    from colymer_acquirers_spark.plans.round import _described

    sc = spark.sparkContext
    descs = []
    resolve = RankInfo.resolve

    def described_resolve(self):
        descs.append(sc.getLocalProperty("spark.job.description"))
        return resolve(self)

    monkeypatch.setattr(RankInfo, "resolve", described_resolve)
    pages, seeds, pol, rob = web
    wd = str(tmp_path_factory.mktemp("desc"))
    run_crawl(spark, pages, seeds, pol, rob, wd, max_rounds=2)
    assert descs == ["round0:rank_counts", "round1:rank_counts"]

    with ThreadPoolExecutor(max_workers=1) as pool:
        pool.submit(_described, sc, "round0:write:crawl_order", lambda: None).result()
        left = pool.submit(sc.getLocalProperty, "spark.job.description").result()
    assert left is None


def test_initial_seen_write_crash_is_rewritten(spark, web, tmp_path_factory):
    """An initial_seen dir that a crashed write left holding only Spark's
    _temporary/ is not a committed table: the next call writes it again,
    so no pre-seen url is fetched."""
    pages, seeds, pol, rob = web
    pre = _pre_seen(pages)
    wd = str(tmp_path_factory.mktemp("seen_crash"))
    os.makedirs(os.path.join(wd, "initial_seen", "_temporary", "0"))
    run_crawl(spark, pages, seeds, pol, rob, wd, max_rounds=ROUNDS, initial_seen=pre)
    fetched = set(_order(spark, wd)["url"])
    assert fetched and not fetched & set(pre.toPandas()["canonical_url"])


def test_round_plans_scan_no_python_rdd(spark, web, tmp_path_factory, monkeypatch):
    """No frame a crawl round writes, and not global_rank's output, scans
    an RDD built in Python (one-row constants are JVM Ranges), and the
    compactions are written from the round's write pool."""
    import threading

    from colymer_acquirers_spark.plans import round as round_mod

    plans, compactions = {}, []

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    write_table, global_rank = round_mod.write_table, round_mod.global_rank

    def recording_write(df, identifier, **kw):
        plans[identifier] = analyzed(df)
        if "_compact" in identifier:
            compactions.append(threading.current_thread().name)
        return write_table(df, identifier, **kw)

    def recording_rank(*a, **kw):
        ranked, info = global_rank(*a, **kw)
        plans[f"global_rank:{len(plans)}"] = analyzed(ranked)
        return ranked, info

    monkeypatch.setattr(round_mod, "write_table", recording_write)
    monkeypatch.setattr(round_mod, "global_rank", recording_rank)
    pages, seeds, pol, rob = web
    wd = str(tmp_path_factory.mktemp("jvm_plans"))
    run_crawl(spark, pages, seeds, pol, rob, wd, max_rounds=2, compact_every=1)
    # 2 rounds × (5 outputs + 2 compactions) + 2 global_rank outputs
    assert len(plans) == 16, sorted(plans)
    for name, plan in plans.items():
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, name
    assert len(compactions) == 4 and "MainThread" not in compactions
