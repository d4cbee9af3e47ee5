"""Scalable deterministic global ranking (SURVEY.md §4.3 "deterministic
crawl ordering").

A single ``Window.orderBy`` with no partition key collapses to one task — a
non-starter at 10^10 rows. ``global_rank`` instead range-partitions on the
sort key, ranks within partitions in parallel, and adds per-partition
offsets. Rank values are a pure function of the key total order, so they are
identical at any parallelism — the property the determinism tests pin down.

Offsets are computed LAZILY inside the same plan: a groupBy count over the
cached range-partitioned intermediate (≤ num_partitions rows), an exclusive
prefix sum over partition id, and a broadcast join back. No driver action is
needed to construct the ranked output — an eager ``collect`` costs ~14
AQE-materialized driver jobs per crawl round (43 of 113 warm jobs), a
core-count-independent serial share that caps N→4N wall scaling
(perfbench's ``spark.idle_core_share``). With the
offsets as a lazy subplan, that materialization work rides the output
writes, which already overlap in a thread pool.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import lru_cache

from pyspark.sql import DataFrame, Window

from colymer_acquirers_spark import fragments
from pyspark.sql import functions as F

_PID = "__rank_pid"
_RN = "__rank_rn"


@fragments.register
@lru_cache(maxsize=16)
def _rank_fragments(keys: tuple) -> dict:
    """Plan-invariant Column fragments, memoized per key set — rebuilding
    them every round cost hundreds of py4j round trips of serial driver
    time (perfbench's ``plans.round.construct_s``)."""
    w = Window.partitionBy(_PID).orderBy(*[F.col(k).asc() for k in keys])
    w_off = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    return {
        "keys": [F.col(k) for k in keys],
        "pid": F.spark_partition_id(),
        "rn": F.row_number().over(w),
        "cnt": F.count(F.lit(1)).alias("__rank_cnt"),
        "off": (
            F.col("__rank_start")
            + F.coalesce(F.sum("__rank_cnt").over(w_off), F.lit(0))
        ),
        "rank": (F.col("__rank_off") + F.col(_RN) - 1).cast("long"),
    }


@dataclass
class RankInfo:
    """Side-channel results of a ``global_rank`` pass.

    ``persisted`` is the cached range-partitioned intermediate: the offset
    subplan is keyed by *this* materialization's partition boundaries, so
    the caller must keep it cached until after its terminal action, then
    unpersist (run_round appends it to RoundResult.persisted).

    ``counts_df`` is the tiny lazy ``(partition id, count)`` frame the
    offsets derive from. ``resolve()`` collects it (one cheap job over the
    cached intermediate — submit it to the caller's write pool so it
    overlaps the output jobs) and returns the per-partition row counts in
    partition-id order.
    """

    counts_df: DataFrame
    persisted: DataFrame

    def resolve(self) -> dict[int, int]:
        counts = {r[_PID]: r["__rank_cnt"] for r in self.counts_df.collect()}
        return {p: counts[p] for p in sorted(counts)}


def global_rank(
    df: DataFrame,
    keys: list[str],
    rank_col: str = "rank",
    start: int = 0,
    return_info: bool = False,
):
    """Attach ``rank_col`` = start, start+1, ... in (keys) ascending order.

    Requires `keys` to be a strict total order (unique tuples) for
    parallelism-independent ranks; the crawl sort_key includes the unique
    canonical_url, satisfying this.

    return_info=True → (df, RankInfo): the per-partition row counts fall
    out of the offset subplan (RankInfo.resolve() collects the tiny
    counts frame — cheap once the cached intermediate is materialized by
    the caller's first action), and the cached intermediate is handed to
    the caller for lifecycle management instead of leaking one persisted
    DataFrame per call.
    """
    spark = df.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    frag = _rank_fragments(tuple(keys))
    ranged = df.repartitionByRange(num_partitions, *frag["keys"])
    ranged = ranged.withColumn(_PID, frag["pid"])
    ranged = ranged.withColumn(_RN, frag["rn"])
    # Persist so the offsets subplan and the ranked output see the same
    # range boundaries (rank values don't depend on boundary placement, but
    # the offsets are keyed by the boundaries of *this* materialization).
    # Spark's cache block locking makes concurrent consumers compute each
    # partition exactly once.
    ranged = ranged.persist()
    counts_df = ranged.groupBy(_PID).agg(frag["cnt"])
    # Offsets = start + exclusive prefix sum of counts in partition-id
    # order. ≤ num_partitions rows, so the unpartitioned window is a
    # single trivial task. `start` changes per round, so it flows in as
    # DATA (a 1-row JVM Range, broadcast cross join) confined to this tiny
    # subplan — an inline F.lit(start) would land in generated source and
    # defeat the codegen cache exactly like the round-number literal did
    # (see plans/round.py __round note).
    start_df = spark.range(start, start + 1, 1, 1)
    start_df = start_df.withColumnRenamed("id", "__rank_start")
    offs = (
        counts_df.crossJoin(F.broadcast(start_df))
        .withColumn("__rank_off", frag["off"])
        .select(_PID, "__rank_off")
    )
    # The offsets flow in as DATA (a tiny broadcast join on the partition
    # id), not as a create_map of literals: inline literals made each
    # round's generated source unique, defeating the codegen cache and
    # re-triggering janino + C2 JIT work every round. The join is a
    # broadcast hash join on an int key against ≤ num_partitions rows —
    # no extra shuffle, stable source.
    out = (
        ranged.join(F.broadcast(offs), on=_PID)
        .withColumn(rank_col, frag["rank"])
        .drop(_PID, _RN, "__rank_off")
    )
    if not return_info:
        return out
    info = RankInfo(counts_df=counts_df, persisted=ranged)
    return out, info
