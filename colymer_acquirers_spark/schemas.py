"""Fixed StructType schemas for every engine table (SURVEY.md §1.3).

The reference is schema-on-write with a fixed normalized envelope plus a
raw-record passthrough (``metadata.original_data`` — reference
``colymer/acquirers/weibo.py:215-231`` et al.); the engine mirrors that
with fixed StructTypes everywhere, crawl provenance as typed columns, and
``articles.original_data`` carrying the envelope's verbatim source (the
page head section). Non-article surfaces (events normalization) keep a
``metadata_json: string`` escape hatch.
"""

from __future__ import annotations

from pyspark.sql import types as T

# -- input (per BASELINE.json input_hint): Common-Crawl-style pages ---------
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# -- seeds (reference analog: task list, scan.py:21-34) ----------------------
SEEDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("priority", T.IntegerType(), False),
    ]
)

# -- frontier (reference analog: chain blocks / bottom_cursor,
#    colymer/acquirers/acquirer.py:10-15,60-74) ------------------------------
FRONTIER = T.StructType(
    [
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("discovered_round", T.IntegerType(), False),
    ]
)

# -- seen set, exact tier (reference analog: chain-block interval seen set,
#    acquirer.py:10-22; store-side id dedup colymer/sites/colymer.py:25-31) --
SEEN = T.StructType(
    [
        T.StructField("canonical_url", T.StringType(), False),
    ]
)

# -- politeness (reference analog: request_interval, scan.py:98-107;
#    mechanism colymer/sites/site.py:30-41) ----------------------------------
POLITENESS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("max_fetch_per_round", T.IntegerType(), False),
        T.StructField("crawl_delay_s", T.DoubleType(), True),
    ]
)

# -- robots (generalizes the reference's login/availability gate,
#    scan.py:112-116) --------------------------------------------------------
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("path_prefix", T.StringType(), False),
        T.StructField("allow", T.BooleanType(), False),
    ]
)

# -- attachments: media descriptor, built identically in 7 reference sites
#    (colymer/acquirers/weibo.py:33-47,62-81,96-111,114-130,133-149;
#     instagram.py:15-42; twitter.py:16-60) ----------------------------------
ATTACHMENT = T.StructType(
    [
        T.StructField("id", T.StringType(), True),
        T.StructField("filename", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("original_url", T.StringType(), True),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_millis", T.LongType(), True),
                    T.StructField("size", T.LongType(), True),
                    T.StructField("bitrate", T.LongType(), True),
                    T.StructField("quality", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "persist_info",
            T.StructType(
                [
                    T.StructField("directly_transfer", T.BooleanType(), True),
                    T.StructField("path", T.StringType(), True),
                    T.StructField("referer", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

# -- articles: unified output record (reference envelope,
#    colymer/acquirers/weibo.py:215-231 etc.) --------------------------------
ARTICLES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("canonical_url", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("author_id", T.StringType(), True),
        T.StructField("author_name", T.StringType(), True),
        T.StructField("time", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("round", T.IntegerType(), False),
        # crawl provenance as TYPED columns (not JSON — queryable/prunable)
        T.StructField("priority", T.IntegerType(), True),
        T.StructField("depth", T.IntegerType(), True),
        # FROZEN RULE 6 (reference edit_count, weibo.py:230-231)
        T.StructField("version", T.IntegerType(), True),
        # FROZEN RULE 7: verbatim head section — the reference's
        # metadata.original_data raw-record passthrough (weibo.py:222-231)
        T.StructField("original_data", T.StringType(), True),
        T.StructField("attachments", T.ArrayType(ATTACHMENT), True),
        T.StructField("text_sha256", T.StringType(), True),
    ]
)

# -- attachments_new: media descriptors first seen this round — the P7
#    pinned-entry-once state (reference: in-memory pin_ids map,
#    colymer/acquirers/twitter.py:13,135-139, generalized to persisted
#    round-to-round state so each media URL is scheduled for transfer once) -
ATTACHMENTS_NEW = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("original_url", T.StringType(), False),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("filename", T.StringType(), True),
    ]
)

# -- crawl order: the deterministic global fetch sequence (north_rule) -------
CRAWL_ORDER = T.StructType(
    [
        T.StructField("rank", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("round", T.IntegerType(), False),
    ]
)

# -- lineage: per-round src→dst edges (north_rule: per-partition lineage) ----
LINEAGE = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("src_url", T.StringType(), False),
        T.StructField("dst_url", T.StringType(), False),
    ]
)
