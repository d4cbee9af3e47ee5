"""Operation accounting shared by the workloads.

An operation is one crawl round, one dedup stage or one correctness check.
A failed operation is counted, its traceback goes to stderr, and the run
goes on, so one failure shows in ``failed`` instead of ending the run.
"""

from __future__ import annotations

import sys
import traceback


class Ops:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def fail(self, name: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(name)
        print(f"[perfbench] FAILED {name}: {detail}", file=sys.stderr, flush=True)

    def check(self, name: str, fn, *args) -> bool:
        """Run one correctness check; ``fn`` returns (ok, detail)."""
        self.attempted += 1
        try:
            ok, detail = fn(*args)
        except Exception:
            ok, detail = False, traceback.format_exc()
        if not ok:
            self.fail(name, detail)
        return ok

    def skip(self, name: str, reason: str) -> None:
        print(f"[perfbench] skipped {name}: {reason}", file=sys.stderr, flush=True)


def no_cache_survives(spark):
    """After ``clearCache()`` no persisted RDD may remain except local
    checkpoints, which the context cleaner reclaims once unreferenced."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    left = [i for i in rdds.keySet() if not rdds.get(i).rdd().isLocallyCheckpointed()]
    return not left, f"{len(left)} persisted RDDs survive clearCache(): ids {sorted(left)[:5]}"
