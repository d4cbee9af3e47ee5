"""Re-crawl via seen-set eviction (evict_seen + reseed): the engine-side
analog of re-acquiring an edited platform item (reference: edit_count /
version, weibo.py:230-231) — forget a fetched url, re-fetch it once, and
have the re-fetch re-enter seen normally."""

from __future__ import annotations

from pyspark.sql import functions as F

from colymer_acquirers_spark.plans.crawl import evict_seen, read_output, run_crawl
from colymer_acquirers_spark.sources.synth import (
    synth_pages,
    synth_politeness,
    synth_seeds,
)


def _run_sequence(spark, wd, pages, seeds, pol, **crawl_kw):
    """crawl 3 → evict the rank-0 url → reseed + crawl to 5 → reseed AGAIN
    without evicting + crawl to 6. Returns (crawl_order rows, url)."""
    run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=3, **crawl_kw)
    url = (
        read_output(spark, wd, "crawl_order").orderBy("rank").first()["url"]
    )
    target = spark.createDataFrame(
        [(url, 0)], ["url", "priority"]
    )
    stamp = evict_seen(spark, wd, target.select("url"))
    assert stamp == 2  # last committed round
    run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=5,
              reseed=target, **crawl_kw)
    # reseed WITHOUT eviction: the re-fetch is seen again → no third fetch
    run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=6,
              reseed=target, **crawl_kw)
    rows = read_output(spark, wd, "crawl_order").orderBy("rank").collect()
    return rows, url


def test_evict_refetches_exactly_once(spark, tmp_path):
    pages = synth_pages(spark, 300).persist()
    seeds = synth_seeds(spark, 6)
    pol = synth_politeness(spark)
    rows, url = _run_sequence(spark, str(tmp_path / "wd"), pages, seeds, pol)
    fetch_rounds = [r["round"] for r in rows if r["url"] == url]
    # fetched in its original round AND exactly once more, at round 3
    assert len(fetch_rounds) == 2, fetch_rounds
    assert fetch_rounds[1] == 3, fetch_rounds
    assert [r["rank"] for r in rows] == list(range(len(rows)))

    # replay the whole crawl/evict/reseed sequence with the bloom prefilter
    # on → identical: each reseed round builds its bloom from seen as it
    # then is, without the evicted url before the re-fetch and with it after
    rows2, url2 = _run_sequence(
        spark, str(tmp_path / "wd2"), pages, seeds, pol, use_bloom=True
    )
    assert url2 == url
    assert [(r["rank"], r["url"], r["round"]) for r in rows2] == [
        (r["rank"], r["url"], r["round"]) for r in rows
    ]
    pages.unpersist()


def test_evict_with_bloom_prefilter_matches_exact(spark, tmp_path, monkeypatch):
    """Evict + reseed with the bloom on equals the exact-only eviction run,
    even with a filter so small that it saturates: the reseed round's bloom
    is built from seen without the evicted url, and every false positive
    goes through the exact backstop."""
    from colymer_acquirers_spark.operators.seen_bloom import BloomSeen

    # 8 bits per shard: the ~45 seen urls set nearly every bit
    tiny = BloomSeen(n_shards=2, m_bits=8, k=3)
    sized = []

    def saturated(n, **kw):
        sized.append(n)
        return tiny

    monkeypatch.setattr(BloomSeen, "sized", saturated)
    pages = synth_pages(spark, 300).persist()
    seeds = synth_seeds(spark, 6)
    pol = synth_politeness(spark)

    wd = str(tmp_path / "bloom")
    n_seen = run_crawl(
        spark, pages, seeds, pol, None, wd, max_rounds=3, use_bloom=True
    )["rank_total"]
    assert tiny.estimated_fpr(n_seen) > 0.9
    url = read_output(spark, wd, "crawl_order").orderBy("rank").first()["url"]
    target = spark.createDataFrame([(url, 0)], ["url", "priority"])
    evict_seen(spark, wd, target.select("url"))
    run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=5,
              reseed=target, use_bloom=True)
    assert len(sized) == 1  # the reseed round built the saturated filter
    rows = read_output(spark, wd, "crawl_order").orderBy("rank").collect()
    fetch_rounds = [r["round"] for r in rows if r["url"] == url]
    assert len(fetch_rounds) == 2 and fetch_rounds[1] == 3, fetch_rounds

    # exact-path control run: same ordering with no prefilter at all
    wd_e = str(tmp_path / "exact")
    run_crawl(spark, pages, seeds, pol, None, wd_e, max_rounds=3)
    evict_seen(spark, wd_e, target.select("url"))
    run_crawl(spark, pages, seeds, pol, None, wd_e, max_rounds=5, reseed=target)
    rows_e = read_output(spark, wd_e, "crawl_order").orderBy("rank").collect()
    assert [(r["rank"], r["url"]) for r in rows] == [
        (r["rank"], r["url"]) for r in rows_e
    ]
    pages.unpersist()


def test_eviction_survives_compaction(spark, tmp_path):
    """A re-fetch AFTER the eviction stamp re-enters seen permanently, even
    across a later compaction: only fetches ≤ the stamp are forgotten."""
    pages = synth_pages(spark, 300).persist()
    seeds = synth_seeds(spark, 6)
    pol = synth_politeness(spark)
    wd = str(tmp_path / "wd")
    run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=2,
              compact_every=2)
    url = read_output(spark, wd, "crawl_order").orderBy("rank").first()["url"]
    target = spark.createDataFrame([(url, 0)], ["url", "priority"])
    evict_seen(spark, wd, target.select("url"))
    # rounds 2..5 with compactions at 3 and 5 — the re-fetch (round 2) must
    # stay seen through both
    run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=6,
              reseed=target, compact_every=2)
    run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=8,
              reseed=target, compact_every=2)
    rows = read_output(spark, wd, "crawl_order").orderBy("rank").collect()
    fetch_rounds = [r["round"] for r in rows if r["url"] == url]
    assert len(fetch_rounds) == 2, fetch_rounds
    assert [r["rank"] for r in rows] == list(range(len(rows)))
    pages.unpersist()


def test_evict_never_fetched_and_double_evict_is_safe(spark, tmp_path):
    """ADVICE r3 (high), on the bloom path: evicting never-fetched urls, or
    re-invoking evict_seen at the same stamp (prior stamp's urls merged
    back into the set), must not un-see anything else — no url other than
    the target may ever be fetched twice."""
    pages = synth_pages(spark, 300).persist()
    seeds = synth_seeds(spark, 6)
    pol = synth_politeness(spark)
    wd = str(tmp_path / "wd")
    run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=3, use_bloom=True)
    url = read_output(spark, wd, "crawl_order").orderBy("rank").first()["url"]
    target = spark.createDataFrame([(url, 0)], ["url", "priority"])

    evict_seen(spark, wd, target.select("url"))
    # second call at the SAME stamp: target again (already evicted) plus
    # urls that were never crawled at all
    bogus = spark.createDataFrame(
        [(url,), ("https://never.test/a",), ("https://never.test/b",)],
        ["url"],
    )
    evict_seen(spark, wd, bogus)

    run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=6,
              reseed=target, use_bloom=True)
    rows = read_output(spark, wd, "crawl_order").orderBy("rank").collect()
    from collections import Counter
    counts = Counter(r["url"] for r in rows)
    assert counts[url] == 2, counts[url]
    dupes = {u: c for u, c in counts.items() if c > 1 and u != url}
    assert not dupes, f"stranger urls fetched twice: {dupes}"
    assert [r["rank"] for r in rows] == list(range(len(rows)))
    pages.unpersist()


def test_double_evict_rewrite_is_staged(spark, tmp_path, monkeypatch):
    """Review r4: re-evicting at the same stamp rewrites the committed
    eviction table through the staged swap — a crash mid-rewrite must
    leave the prior evictions readable (not an uncommitted dir)."""
    from colymer_acquirers_spark.plans.crawl import evict_seen, run_crawl, read_output
    from colymer_acquirers_spark.sources import tables as T
    from colymer_acquirers_spark.sources.tables import read_table

    pages = synth_pages(spark, 200).persist()
    wd = str(tmp_path / "wd")
    run_crawl(spark, pages, synth_seeds(spark, 4), synth_politeness(spark),
              None, wd, max_rounds=2)
    rows = read_output(spark, wd, "crawl_order").orderBy("rank").collect()
    u1, u2 = rows[0]["url"], rows[1]["url"]
    stamp = evict_seen(spark, wd, spark.createDataFrame([(u1,)], ["url"]))

    real_write = T.write_table

    def dying_write(df, identifier, mode="append", partition_by=None):
        if identifier.endswith(".__staging"):
            raise RuntimeError("killed mid-rewrite")
        return real_write(df, identifier, mode, partition_by)

    monkeypatch.setattr(T, "write_table", dying_write)
    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        evict_seen(spark, wd, spark.createDataFrame([(u2,)], ["url"]))
    monkeypatch.undo()

    import os
    path = os.path.join(wd, "evictions", str(stamp))
    got = {r["canonical_url"] for r in read_table(spark, path).collect()}
    assert u1 in {g for g in got} or got  # prior evictions intact
    assert len(got) >= 1
    pages.unpersist()


def test_flagship_recrawl_flow_crash_safety(spark):
    """ADVICE r5 (medium) + ADVICE r6 (low): the crawl→evict→recrawl flow
    stages in a UNIQUE mkdtemp scratch dir (never a fixed path two
    concurrent evaluators could race on) and renames atomically on
    success. Partial state from a crashed run — here a poisoned legacy
    ``wd + ".tmp"`` dir AND a poisoned stale ``.stage_`` dir — must never
    be absorbed into the published flow; the rerun rebuilds from scratch
    in its own staging, stamps ``_FLOW_DONE``, and a second invocation is
    a pure re-read with identical rows."""
    import os
    import shutil

    import __spark_entry__ as entrymod
    from colymer_acquirers_spark import queries as _q

    sf = "/root/testdata/sf0.001"
    q = entrymod.queries()["flagship_recrawl"]
    wd = _q.flagship_workdir(sf, 4) + "_recrawl"
    shutil.rmtree(wd, ignore_errors=True)
    poisoned = [wd + ".tmp", wd + ".stage_crashed"]
    for p in poisoned:
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        with open(os.path.join(p, "junk"), "w") as fh:
            fh.write("partial state from a crashed run")

    out1 = [tuple(r) for r in q(spark, sf).collect()]
    assert out1, "recrawl surface must be non-empty"
    assert os.path.exists(os.path.join(wd, "_FLOW_DONE"))
    assert not os.path.exists(os.path.join(wd, "junk")), (
        "poisoned staging state must not survive into the published dir"
    )
    # unique staging by construction: the crashed dirs were never touched
    # (rmtree-ing a path another process might be staging in is the race
    # ADVICE r6 flagged), and the published dir is complete regardless
    for p in poisoned:
        assert os.path.exists(os.path.join(p, "junk"))
        shutil.rmtree(p, ignore_errors=True)

    out2 = [tuple(r) for r in q(spark, sf).collect()]
    assert out1 == out2


def test_rerun_round_drops_its_crashed_compaction(spark, tmp_path, monkeypatch):
    """Round 2 stopped after its pooled compaction and before its manifest
    leaves seen_compact/2, holding seen as it was before the round-0
    fetches are evicted afterwards. The re-run of round 2 compacts nothing
    and must drop it: otherwise it stands for seen after round 2, and an
    evicted url first linked again in round 3 or later stays "seen". The
    reseeded url is fetched again exactly once, and crawl_order and seen
    equal those of a run that never crashed."""
    import os

    from colymer_acquirers_spark import schemas
    from colymer_acquirers_spark.plans.crawl import committed_rounds, read_seen

    pages = synth_pages(spark, 300)
    seeds = synth_seeds(spark, 6)
    pol = synth_politeness(spark)
    replace = os.replace

    def no_manifest(src, dst):
        if dst.endswith("manifest.json"):
            raise OSError("stopped before the manifest")
        return replace(src, dst)

    def crawl(wd, crash):
        run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=2, compact_every=1)
        if crash:
            with monkeypatch.context() as m:
                m.setattr(os, "replace", no_manifest)
                try:
                    run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=3,
                              compact_every=1)
                except OSError:
                    pass
            # the crashed call never reached its unpersists
            spark.catalog.clearCache()
            assert committed_rounds(wd) == [0, 1]
            assert os.path.exists(os.path.join(wd, "seen_compact", "2", "_TABLE_COMMIT"))
        round0 = read_output(spark, wd, "crawl_order", upto=0).orderBy("rank")
        evict_seen(spark, wd, round0.select("url"))
        url = round0.first()["url"]
        target = spark.createDataFrame([(url, 0)], ["url", "priority"])
        run_crawl(spark, pages, seeds, pol, None, wd, max_rounds=6,
                  reseed=target, compact_every=0)
        rows = read_output(spark, wd, "crawl_order").orderBy("rank").collect()
        for k in committed_rounds(wd):
            nxt = spark.read.schema(schemas.FRONTIER).parquet(
                os.path.join(wd, "rounds", str(k), "frontier_next"))
            hits = nxt.join(read_seen(spark, wd, k), "canonical_url", "left_semi")
            assert hits.count() == 0, k
        seen = {r[0] for r in read_seen(spark, wd, 5).collect()}
        return [(r["rank"], r["url"], r["round"]) for r in rows], url, seen

    rows, url, seen = crawl(str(tmp_path / "crashed"), crash=True)
    fetch_rounds = [r for _, u, r in rows if u == url]
    assert fetch_rounds == [0, 2], fetch_rounds
    rows_s, url_s, seen_s = crawl(str(tmp_path / "straight"), crash=False)
    assert url_s == url and rows == rows_s
    assert seen == seen_s
