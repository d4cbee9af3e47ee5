"""Salted-bloom URL-seen shards (north_rule; SURVEY.md §4.3).

Reference analog: the chain-block interval seen-set (``colymer/acquirers/
acquirer.py:10-22``) — an interval-compressed "have I fetched this" structure
— generalized to a sharded bloom filter:

- shard key = Murmur3(``canonical_url``) mod n_shards (Spark ``hash``), i.e.
  salted by the *full* URL, not the host → a hot host (30%% of URLs in the
  fixture) spreads uniformly across shards; no shard hotspot.
- per-shard bloom built with ``applyInPandas`` (numpy bit ops over Arrow
  batches — no per-row Python); bit positions from the double-hashing scheme
  idx_i = (h1 + i·h2) mod m with h1 = xxhash64(url), h2 = xxhash64(url, 1)
  computed JVM-side.
- probe via ``cogroup().applyInPandas`` on the shard key (the scale path:
  frontier and bloom shards co-partitioned by the same key; one shuffle of
  the frontier, none of the pages). Bloom answers "definitely unseen" /
  "maybe seen"; only maybe-seen rows continue to the exact anti-join
  backstop — the bloom can never FALSE-DROP a URL (SURVEY.md §5.4 test 4).

Sizing (10^10-URL frontier): 10 bits/key ≈ 12.5 GB total ⇒ ~200 shards of
64 MB. ``BloomSeen.sized`` derives (n_shards, m_bits, k) from expected item
count + target FPR using exactly that arithmetic. The crawl loop builds a
filter only in a round that checks seen, from that round's exact seen
frame and sized for it, and keeps none: no shard table is stored, merged
across rounds, resized or restored on resume.

Eviction (``plans.crawl.evict_seen``) needs nothing here: ``read_seen``
subtracts evicted URLs before the build, so they are not in the filter.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# self-describing: every row carries its filter geometry (read back by
# ``from_table``; ``merge`` refuses rows built under different geometries,
# whose bit positions would not line up)
BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("bloom", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("n_shards", T.IntegerType(), False),
        T.StructField("m_bits", T.IntegerType(), False),
        T.StructField("k", T.IntegerType(), False),
    ]
)

DEFAULT_M_BITS = 1 << 20  # 128 KiB per shard (test scale)
DEFAULT_K = 5
DEFAULT_SHARDS = 32
TARGET_FPR = 0.01  # default sizing target of ``BloomSeen.sized``


def _with_hashes(df: DataFrame, n_shards: int) -> DataFrame:
    c = F.col("canonical_url")
    return df.withColumn("__shard", F.pmod(F.hash(c), F.lit(n_shards)).cast("int")).withColumn(
        "__h1", F.xxhash64(c)
    ).withColumn("__h2", F.xxhash64(c, F.lit(1)))


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing, uint64 wraparound arithmetic."""
    h1u = h1.astype(np.uint64)
    h2u = h2.astype(np.uint64)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1u[:, None] + i * h2u[:, None]) % np.uint64(m_bits)).astype(np.int64)


class BloomSeen:
    def __init__(
        self,
        n_shards: int = DEFAULT_SHARDS,
        m_bits: int = DEFAULT_M_BITS,
        k: int = DEFAULT_K,
    ):
        self.n_shards = n_shards
        self.m_bits = m_bits
        self.k = k

    # -- sizing ------------------------------------------------------------
    @classmethod
    def sized(
        cls,
        expected_items: int,
        target_fpr: float = TARGET_FPR,
        max_shard_bytes: int = 1 << 26,
        min_shards: int = 1,
    ) -> "BloomSeen":
        """Derive (n_shards, m_bits, k) from expected item count and target
        FPR (SURVEY.md §4.3 sizing): total_bits = n·ln(1/p)/ln²2,
        k = (m/n)·ln2, shard count bounded by ``max_shard_bytes`` so a
        single shard always fits one task's memory (64 MiB default — the
        10^10-URL / 1% config lands on ~180 shards of 64 MiB, k=7), and
        at least ``min_shards`` (the crawl passes its shuffle width), so
        the build and the probe of a small filter still run as that many
        tasks instead of one.

        Shard key splits ITEMS uniformly too (salted full-URL hash), so the
        bits-per-item ratio — and therefore the FPR — is preserved
        per-shard."""
        n = max(1, int(expected_items))
        total_bits = math.ceil(n * math.log(1.0 / target_fpr) / (math.log(2) ** 2))
        k = max(1, round(total_bits / n * math.log(2)))
        n_shards = max(min_shards, math.ceil(total_bits / (max_shard_bytes * 8)))
        # per-shard bits, rounded up to whole bytes
        m_bits = ((math.ceil(total_bits / n_shards) + 7) // 8) * 8
        return cls(n_shards=n_shards, m_bits=m_bits, k=k)

    def params(self) -> dict:
        """Construction parameters."""
        return {"n_shards": self.n_shards, "m_bits": self.m_bits, "k": self.k}

    def estimated_fpr(self, n_items_total: int) -> float:
        """Expected FPR at ``n_items_total`` inserted across all shards:
        p = (1 − e^{−k·n/m})^k with n the per-shard load."""
        n = max(0, int(n_items_total)) / self.n_shards
        return (1.0 - math.exp(-self.k * n / self.m_bits)) ** self.k

    @classmethod
    def from_table(cls, blooms: DataFrame) -> "BloomSeen | None":
        """Reconstruct the filter a shard table was built with (its
        geometry columns). One tiny driver job."""
        row = blooms.select("n_shards", "m_bits", "k").first()
        if row is None:
            return None
        return cls(n_shards=row["n_shards"], m_bits=row["m_bits"], k=row["k"])

    # -- build -------------------------------------------------------------
    def build_delta(self, urls: DataFrame) -> DataFrame:
        """canonical_url DF → bloom shard table (one row per non-empty shard)."""
        m_bits, k, n_shards = self.m_bits, self.k, self.n_shards

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            arr = np.zeros(m_bits // 8, dtype=np.uint8)
            pos = _positions(pdf["__h1"].to_numpy(), pdf["__h2"].to_numpy(), k, m_bits)
            np.bitwise_or.at(arr, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
            return pd.DataFrame(
                {
                    "shard": [int(pdf["__shard"].iloc[0])],
                    "bloom": [arr.tobytes()],
                    "n_items": [len(pdf)],
                    "n_shards": [n_shards],
                    "m_bits": [m_bits],
                    "k": [k],
                }
            )

        return (
            _with_hashes(urls.select("canonical_url"), self.n_shards)
            .groupBy("__shard")
            .applyInPandas(build, BLOOM_SCHEMA)
        )

    def merge(self, blooms: DataFrame) -> DataFrame:
        """OR-merge bloom rows per shard: the filter of the union of the
        sets the rows were built from."""

        def orit(pdf: pd.DataFrame) -> pd.DataFrame:
            # OR-merging rows built under different geometries is meaningless
            if pdf["m_bits"].nunique() != 1 or pdf["k"].nunique() != 1:
                raise ValueError("bloom merge across mismatched filter params")
            arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["bloom"]]
            merged = np.bitwise_or.reduce(arrs)
            return pd.DataFrame(
                {
                    "shard": [int(pdf["shard"].iloc[0])],
                    "bloom": [merged.tobytes()],
                    "n_items": [int(pdf["n_items"].sum())],
                    "n_shards": [int(pdf["n_shards"].iloc[0])],
                    "m_bits": [int(pdf["m_bits"].iloc[0])],
                    "k": [int(pdf["k"].iloc[0])],
                }
            )

        return blooms.groupBy("shard").applyInPandas(orit, BLOOM_SCHEMA)

    # -- probe -------------------------------------------------------------
    def probe(self, frontier: DataFrame, blooms: DataFrame) -> DataFrame:
        """frontier + boolean ``maybe_seen`` column.

        Co-grouped by shard: the frontier shuffles once on the salted shard
        key; each task touches exactly one bloom shard. Rows with
        maybe_seen = false are *definitely* unseen (skip the exact
        anti-join); true rows must be confirmed exactly.
        """
        m_bits, k = self.m_bits, self.k
        fr = _with_hashes(frontier, self.n_shards)
        keep = [f.name for f in fr.schema.fields if not f.name.startswith("__")]
        out_schema = T.StructType(
            [fr.schema[c] for c in keep]
            + [T.StructField("maybe_seen", T.BooleanType(), False)]
        )

        def check(fdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
            if len(fdf) == 0:
                return pd.DataFrame(columns=keep + ["maybe_seen"])
            out = fdf[keep].copy()
            if len(bdf) == 0:
                out["maybe_seen"] = False
                return out
            arrs = [np.frombuffer(b, dtype=np.uint8) for b in bdf["bloom"]]
            arr = np.bitwise_or.reduce(arrs) if len(arrs) > 1 else arrs[0]
            pos = _positions(fdf["__h1"].to_numpy(), fdf["__h2"].to_numpy(), k, m_bits)
            bits = (arr[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
            out["maybe_seen"] = bits.all(axis=1)
            return out

        return (
            fr.groupby("__shard")
            .cogroup(blooms.groupby("shard"))
            .applyInPandas(check, out_schema)
        )
