"""Deterministic synthetic web generator (FIXTURES.md §1-4).

Everything is a pure Spark column expression of the row id — no PRNG state,
no wall clock — so generation is fully distributed (``spark.range``) and
byte-reproducible at any parallelism and any scale tier (1e3 unit →
1e10-frontier extrapolation). ``xxhash64(id, salt)`` is the entropy source.

Properties (to exercise the engine):
- ~20 hosts; host0 is hot (~30%% of URLs by default) → salting / skew-join
  coverage; the W1 two-phase politeness window and AQE skew joins are thus
  exercised by EVERY bench/scaling run, not a side fixture.
  ``SPARK_GRAFT_HOT_HOST_PCT`` overrides the hot share (0 → uniform hosts;
  bench.py --scaling uses this for the skewed-vs-uniform sensitivity pair).
- ~10%% of pages live under ``/private/`` → robots deny coverage.
- 0-8 links/page in five href forms (canonical, #fragment, UPPERCASE host,
  root-relative, query-reorder) → canonicalization coverage; ~5%% of link
  targets point past the corpus end → dangling-fetch coverage.
- per-host language over {en,zh,ja,de}; occasional ``&amp;`` entity in the
  body → entity-decode coverage in the frozen text rule.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_HOSTS = 20
# host0 share, percent (read at import; subprocess-level knob)
HOT_HOST_PCT = int(os.environ.get("SPARK_GRAFT_HOT_HOST_PCT", "30"))
LANGS = ["en", "zh", "ja", "de"]

_WORDS = {
    "en": ["the", "fast", "crawl", "frontier", "queue", "page", "link", "host", "fetch", "parse"],
    "zh": ["网页", "抓取", "队列", "链接", "主机", "解析", "深度", "优先", "轮次", "页面"],
    "ja": ["ページ", "取得", "キュー", "リンク", "ホスト", "解析", "深さ", "優先", "巡回", "文書"],
    "de": ["die", "seite", "warteschlange", "verknüpfung", "rechner", "holen", "tiefe", "runde", "netz", "text"],
}


def _h(id_col: Column, salt: int, mod: int) -> Column:
    return F.pmod(F.xxhash64(id_col, F.lit(salt)), F.lit(mod))


def _host_idx(id_col: Column) -> Column:
    return F.when(_h(id_col, 1, 100) < HOT_HOST_PCT, F.lit(0)).otherwise(
        (_h(id_col, 2, N_HOSTS - 1) + 1).cast("int")
    )


def _host(id_col: Column) -> Column:
    return F.format_string("host%d.example.com", _host_idx(id_col))


def _path(id_col: Column) -> Column:
    return F.when(
        _h(id_col, 11, 10) == 0, F.format_string("/private/p/%d", id_col)
    ).otherwise(F.format_string("/p/%d", id_col))


def _url(id_col: Column) -> Column:
    return F.concat(F.lit("https://"), _host(id_col), _path(id_col))


def synth_pages(
    spark: SparkSession, n: int, dangle_frac: float = 0.05, words_mult: int = 1
) -> DataFrame:
    """The ``pages`` table per BASELINE.json input_hint.

    words_mult scales body length (default 1 → 5-30 words, the golden-fixture
    size; bench uses larger values so page size approximates real web pages
    and parse work dominates fixed costs).
    """
    n_target_space = int(n * (1 + dangle_frac)) or 1
    df = spark.range(n).withColumn("id", F.col("id").cast("long"))
    idc = F.col("id")

    host_idx = _host_idx(idc)
    lang_idx = F.pmod(host_idx, F.lit(4))
    lang = F.element_at(F.array(*[F.lit(x) for x in LANGS]), lang_idx + 1)
    words_arr = F.array(
        *[F.array(*[F.lit(w) for w in _WORDS[lg]]) for lg in LANGS]
    )  # array<array<string>> indexed by lang_idx
    my_words = F.element_at(words_arr, lang_idx + 1)

    n_words = ((_h(idc, 3, 26) + 5) * words_mult).cast("int")
    body = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda j: F.element_at(my_words, F.pmod(F.xxhash64(idc, j, F.lit(5)), F.lit(10)).cast("int") + 1),
        ),
        " ",
    )
    with_entity = _h(idc, 9, 5) == 0
    body_html = F.when(with_entity, F.concat(body, F.lit(" &amp; co"))).otherwise(body)
    body_text = F.when(with_entity, F.concat(body, F.lit(" & co"))).otherwise(body)

    title = F.format_string("Page %d", idc)
    n_links = _h(idc, 7, 9).cast("int")  # 0..8

    def link_target(j: Column) -> Column:
        return F.pmod(F.xxhash64(idc, j, F.lit(100)), F.lit(n_target_space)).cast("long")

    def href(j: Column) -> Column:
        t = link_target(j)
        form = F.pmod(F.xxhash64(idc, j, F.lit(200)), F.lit(6))
        canonical = _url(t)
        return (
            F.when(form <= 1, canonical)
            .when(form == 2, F.concat(canonical, F.lit("#frag")))
            .when(form == 3, F.concat(F.lit("https://"), F.upper(_host(t)), _path(t)))
            .when(form == 4, _path(t))  # root-relative → resolves on current host
            .otherwise(F.concat(canonical, F.lit("?b=2&a=1")))
        )

    anchors = F.when(
        n_links > 0,
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_links - 1),
                lambda j: F.format_string('<a href="%s">[%d]</a>', href(j), j),
            ),
            "",
        ),
    ).otherwise(F.lit(""))

    labels = F.when(
        n_links > 0,
        F.transform(F.sequence(F.lit(0), n_links - 1), lambda j: F.format_string("[%d]", j)),
    ).otherwise(F.array().cast("array<string>"))

    # envelope markers (head metadata + media tags; none contribute to the
    # frozen TEXT rule, so the independent ground-truth `text` column is
    # unchanged): ~70% of pages carry an author, ~80% a published time,
    # 0-3 media tags with width/height attrs on some
    author_meta = F.when(
        _h(idc, 21, 10) < 7,
        F.format_string(
            '<meta name="author" content="Author %d">'
            '<meta name="author-id" content="u%d">',
            _h(idc, 22, 50),
            _h(idc, 22, 50),
        ),
    ).otherwise(F.lit(""))
    published_meta = F.when(
        _h(idc, 23, 10) < 8,
        F.concat(
            F.lit('<meta property="article:published_time" content="'),
            F.date_format(
                F.timestamp_seconds(F.lit(1735689600) + _h(idc, 14, 86400 * 30)),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ),
            F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    # ~60% of pages carry a version (FROZEN RULE 6; reference edit_count)
    version_meta = F.when(
        _h(idc, 31, 10) < 6,
        F.format_string('<meta name="version" content="%d">', _h(idc, 32, 20)),
    ).otherwise(F.lit(""))
    n_media = _h(idc, 25, 4).cast("int")  # 0..3

    def media_tag(j: Column) -> Column:
        kind_i = F.pmod(F.xxhash64(idc, j, F.lit(26)), F.lit(3))
        mid = F.pmod(F.xxhash64(idc, j, F.lit(27)), F.lit(1000))
        with_dims = F.pmod(F.xxhash64(idc, j, F.lit(28)), F.lit(2)) == 0
        dims = F.when(
            with_dims,
            F.format_string(
                ' width="%d" height="%d"',
                (_h(idc, 29, 1920) + 1).cast("int"),
                (_h(idc, 30, 1080) + 1).cast("int"),
            ),
        ).otherwise(F.lit(""))
        img = F.format_string('<img src="/media/i%d.jpg"', mid)
        vid = F.format_string('<video src="/media/v%d.mp4"', mid)
        aud = F.format_string("<audio src='/media/a%d.mp3'", mid)
        tag = F.when(kind_i == 0, img).when(kind_i == 1, vid).otherwise(aud)
        return F.concat(tag, dims, F.lit(">"))

    media_tags = F.when(
        n_media > 0,
        F.array_join(
            F.transform(F.sequence(F.lit(0), n_media - 1), media_tag), ""
        ),
    ).otherwise(F.lit(""))

    html_str = F.concat(
        F.lit("<html><head><title>"),
        title,
        F.lit("</title>"),
        author_meta,
        published_meta,
        version_meta,
        F.lit("<style>p{color:red}</style></head><body><p>"),
        body_html,
        F.lit("</p>"),
        anchors,
        media_tags,
        F.lit("<script>var x = 1 < 2;</script></body></html>"),
    )
    text = F.array_join(F.concat(F.array(title, body_text), labels), " ")
    warc_ts = F.timestamp_seconds(F.lit(1735689600) + _h(idc, 13, 86400 * 30))

    return df.select(
        _url(idc).alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html_str, "utf-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def synth_seeds(spark: SparkSession, n_seeds: int = 8) -> DataFrame:
    """Seed list (reference analog: task dict, scan.py:21-34)."""
    df = spark.range(n_seeds)
    idc = F.col("id")
    return df.select(
        _url(idc).alias("url"),
        F.pmod(idc, F.lit(3)).cast("int").alias("priority"),
    )


def synth_politeness(spark: SparkSession) -> DataFrame:
    """Per-host round budgets (reference analog: request_interval, scan.py:98-107)."""
    df = spark.range(N_HOSTS)
    idc = F.col("id")
    return df.select(
        F.format_string("host%d.example.com", idc).alias("host"),
        (F.lit(2) + F.pmod(idc, F.lit(5))).cast("int").alias("max_fetch_per_round"),
        F.when(idc == 0, F.lit(2.0)).otherwise(F.lit(15.0)).alias("crawl_delay_s"),
    )


def synth_robots(spark: SparkSession) -> DataFrame:
    """Deny ``/private/`` on every third host (generalizes the login gate,
    scan.py:112-116), plus a longer allow rule carving ``/private/p/1``
    back out on those hosts — exercises longest-prefix / allow-wins
    precedence (real-robots.txt semantics)."""
    hosts = spark.range(N_HOSTS).filter(F.pmod(F.col("id"), F.lit(3)) == 1)
    deny = hosts.select(
        F.format_string("host%d.example.com", F.col("id")).alias("host"),
        F.lit("/private/").alias("path_prefix"),
        F.lit(False).alias("allow"),
    )
    allow = hosts.select(
        F.format_string("host%d.example.com", F.col("id")).alias("host"),
        F.lit("/private/p/1").alias("path_prefix"),
        F.lit(True).alias("allow"),
    )
    return deny.unionByName(allow)
