"""Bloom seen-shard soundness (SURVEY.md §5.4 test 4).

The bloom may false-positive (over-route to the exact backstop) but must
never false-negative: every inserted URL probes maybe_seen=True."""

from __future__ import annotations

from pyspark.sql import functions as F

from colymer_acquirers_spark.operators.seen_bloom import BloomSeen


def _urls(spark, start, n, salt=""):
    return spark.range(start, start + n).select(
        F.concat(F.lit(f"https://h{salt}"), (F.col("id") % 13).cast("string"),
                 F.lit(".com/p/"), F.col("id").cast("string")).alias("canonical_url")
    )


def test_no_false_negatives(spark):
    bs = BloomSeen(n_shards=8, m_bits=1 << 16, k=5)
    seen = _urls(spark, 0, 5000)
    bloom = bs.build_delta(seen)
    probed = bs.probe(seen.withColumn("priority", F.lit(0)), bloom)
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    assert probed.count() == 5000


def test_unseen_mostly_negative_and_never_dropped_wrongly(spark):
    bs = BloomSeen(n_shards=8, m_bits=1 << 18, k=5)
    seen = _urls(spark, 0, 3000)
    unseen = _urls(spark, 100000, 3000)
    bloom = bs.build_delta(seen).persist()
    probed = bs.probe(unseen, bloom).persist()
    n_maybe = probed.filter(F.col("maybe_seen")).count()
    # fpr should be far below 5% at this sizing
    assert n_maybe < 150, n_maybe
    # bloom-negative rows are definitely unseen: anti-join confirms none of
    # them is actually in the seen set
    negatives = probed.filter(~F.col("maybe_seen"))
    wrongly_negative = negatives.join(seen, "canonical_url", "left_semi").count()
    assert wrongly_negative == 0


def test_merge_is_union(spark):
    bs = BloomSeen(n_shards=4, m_bits=1 << 16, k=4)
    a = bs.build_delta(_urls(spark, 0, 1000))
    b = bs.build_delta(_urls(spark, 1000, 1000))
    merged = bs.merge(a.unionByName(b))
    assert merged.count() <= 4
    both = _urls(spark, 0, 2000)
    probed = bs.probe(both, merged)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_empty_bloom_all_negative(spark):
    bs = BloomSeen(n_shards=4)
    empty = bs.build_delta(_urls(spark, 0, 0))
    probed = bs.probe(_urls(spark, 0, 500), empty)
    assert probed.filter(F.col("maybe_seen")).count() == 0
    assert probed.count() == 500


def test_sized_matches_bloom_arithmetic():
    """VERDICT r2 #5: (n_shards, m_bits, k) from n_items + target FPR.
    Classic figures: 1% → ~9.59 bits/item, k=7; SURVEY §4.3's 10^10-URL
    row lands near 180 shards of ≤64 MiB."""
    bs = BloomSeen.sized(1_000_000, target_fpr=0.01)
    assert bs.n_shards == 1  # ~1.2 MB total, fits one 64 MiB shard
    assert 9.5 <= bs.m_bits / 1_000_000 <= 9.7
    assert bs.k == 7
    assert bs.estimated_fpr(1_000_000) < 0.011

    big = BloomSeen.sized(10_000_000_000, target_fpr=0.01)
    assert 170 <= big.n_shards <= 190, big.n_shards
    assert big.m_bits <= (1 << 26) * 8
    assert big.k == 7
    # saturation is visible through the estimate (the autosize trigger)
    assert big.estimated_fpr(10_000_000_000) < 0.011
    assert big.estimated_fpr(40_000_000_000) > 0.1


def test_sized_measured_fpr_on_fixture(spark):
    """Measured FPR of a .sized() filter tracks the target on real probes
    (3σ slack on a 5k-probe sample at p=0.02 ⇒ < ~0.03)."""
    bs = BloomSeen.sized(4000, target_fpr=0.02)
    seen = _urls(spark, 0, 4000)
    unseen = _urls(spark, 1_000_000, 5000)
    bloom = bs.build_delta(seen)
    n_maybe = bs.probe(unseen, bloom).filter(F.col("maybe_seen")).count()
    assert n_maybe / 5000 < 0.032, n_maybe
    # and still zero false drops
    probed_seen = bs.probe(seen, bloom)
    assert probed_seen.filter(~F.col("maybe_seen")).count() == 0


def test_table_is_self_describing(spark):
    bs = BloomSeen(n_shards=4, m_bits=1 << 14, k=3)
    t = bs.build_delta(_urls(spark, 0, 100))
    back = BloomSeen.from_table(t)
    assert back.params() == {"n_shards": 4, "m_bits": 1 << 14, "k": 3}


def test_crawl_autosize_resizes_and_stays_exact(spark, tmp_path):
    """A deliberately tiny bloom must get rebuilt at compaction (estimated
    FPR over threshold) with results identical to the exact-only run, and
    a resume after the resize must keep the persisted geometry: its first
    bloom ``merge`` raises on mismatched filter parameters."""
    import os

    from pyspark.sql import functions as F  # noqa: F811

    from colymer_acquirers_spark.operators.seen_bloom import BLOOM_SCHEMA
    from colymer_acquirers_spark.plans.crawl import read_output, run_crawl
    from colymer_acquirers_spark.sources.synth import (
        synth_pages,
        synth_politeness,
        synth_seeds,
    )

    pages = synth_pages(spark, 400).persist()
    seeds = synth_seeds(spark, 6)
    pol = synth_politeness(spark)
    tiny = BloomSeen(n_shards=2, m_bits=256, k=3)  # saturates in one round

    wd_a = str(tmp_path / "auto")
    run_crawl(spark, pages, seeds, pol, None, wd_a, max_rounds=4,
              use_bloom=True, bloom_filter=tiny, compact_every=2)
    wd_b = str(tmp_path / "exact")
    run_crawl(spark, pages, seeds, pol, None, wd_b, max_rounds=4)

    a = read_output(spark, wd_a, "crawl_order").orderBy("rank").collect()
    b = read_output(spark, wd_b, "crawl_order").orderBy("rank").collect()
    assert [r["url"] for r in a] == [r["url"] for r in b]

    # the last committed bloom must carry a rebuilt (larger) geometry
    last = max(
        int(k) for k in os.listdir(os.path.join(wd_a, "rounds")) if k.isdigit()
    )
    persisted = BloomSeen.from_table(
        spark.read.schema(BLOOM_SCHEMA).parquet(
            os.path.join(wd_a, "rounds", str(last), "bloom")
        )
    )
    assert persisted.m_bits > tiny.m_bits, persisted.params()

    # resume with NO bloom_filter arg: geometry must come from the table
    more = run_crawl(spark, pages, seeds, pol, None, wd_a, max_rounds=6,
                     use_bloom=True, compact_every=2)
    assert more["rounds"] == list(range(len(more["rounds"])))
    a6 = read_output(spark, wd_a, "crawl_order").orderBy("rank").collect()
    run_crawl(spark, pages, seeds, pol, None, wd_b, max_rounds=6)
    b6 = read_output(spark, wd_b, "crawl_order").orderBy("rank").collect()
    assert [r["url"] for r in a6] == [r["url"] for r in b6]
    pages.unpersist()


def test_crawl_resumes_over_emptied_bloom_dir(spark, tmp_path):
    """A committed round whose bloom dir lost its files and commit marker
    (what an interrupted delete leaves) must resume: the uncommitted dir
    counts as absent, the next round rebuilds the bloom from the full seen
    state, and the crawl order equals the exact-only run's."""
    import os

    from colymer_acquirers_spark.plans.crawl import read_output, run_crawl
    from colymer_acquirers_spark.sources.synth import (
        synth_pages,
        synth_politeness,
        synth_seeds,
    )

    pages = synth_pages(spark, 300).persist()
    seeds = synth_seeds(spark, 6)
    pol = synth_politeness(spark)

    def crawl(wd, **kw):
        run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=3, **kw)
        url = read_output(spark, wd, "crawl_order").orderBy("rank").first()["url"]
        if kw:
            bloom_dir = os.path.join(wd, "rounds", "2", "bloom")
            for name in os.listdir(bloom_dir):
                os.remove(os.path.join(bloom_dir, name))
        reseed = spark.createDataFrame([(url, 0)], ["url", "priority"])
        run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=4,
                  reseed=reseed, **kw)
        rows = read_output(spark, wd, "crawl_order").orderBy("rank").collect()
        return [(r["rank"], r["url"], r["round"]) for r in rows]

    wd_b = str(tmp_path / "bloom")
    got = crawl(wd_b, use_bloom=True)
    want = crawl(str(tmp_path / "exact"))
    assert got == want
    assert {r for _, _, r in got} == {0, 1, 2, 3}
    for k in (0, 1, 3):  # round 2's is the emptied one
        assert os.path.exists(
            os.path.join(wd_b, "rounds", str(k), "bloom", "_TABLE_COMMIT")
        ), k
    pages.unpersist()
