"""Dedup-family skew experiment (VERDICT r4 stretch): a synthetic corpus
with a HOT near-duplicate cluster — the shape small uniform fixtures can't
produce — to measure how the banded-minhash pipeline behaves when one
band bucket concentrates, and what the DF-cap / band-width knobs do.

Usage:  python BENCH/skew_experiment.py [n_docs] [hot_frac]
Writes one JSON line per configuration; findings recorded in PLANS.md.

The corpus is synthesized here (bench input only — catalog queries keep
using the driver's parquet): hot_frac of documents are near-copies of one
template (small token edits), the rest are unique word soup. This makes
one minhash band bucket quadratically explosive — candidate pairs
~ (hot_n)^2/2 — which is exactly the 100 TB failure mode: a boilerplate
page duplicated millions of times.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from colymer_acquirers_spark.session import get_spark  # noqa: E402


def synth_skewed_docs(spark, n: int, hot_frac: float):
    """hot_frac near-copies of one template + unique tails."""
    idc = F.col("id")
    hot_n = int(n * hot_frac)
    template = " ".join(f"w{i % 37}" for i in range(120))
    uniq = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(120)),
            lambda j: F.concat(
                F.lit("u"),
                F.pmod(F.xxhash64(idc, j), F.lit(10_000_000)).cast("string"),
            ),
        ),
    )
    hot = F.concat(
        F.lit(template),
        F.lit(" edit"),
        F.pmod(F.xxhash64(idc), F.lit(7)).cast("string"),
    )
    return spark.range(n).select(
        idc.alias("doc_id"),
        F.when(idc < hot_n, hot).otherwise(uniq).alias("text"),
    )


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000
    hot_frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.05
    spark = get_spark(app_name="skew", master="local[16]")
    docs = synth_skewed_docs(spark, n, hot_frac).persist()
    docs.count()

    from colymer_acquirers_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_near_dups_verified,
    )

    results = []
    for bands, rows_per_band in [(8, 4), (16, 2)]:
        t0 = time.monotonic()
        cached: list = []
        cand = minhash_lsh_pairs(
            docs, "doc_id", "text", n_hashes=32, bands=bands, persisted=cached
        )
        n_cand = cand.count()
        t_cand = time.monotonic() - t0
        t0 = time.monotonic()
        ver = minhash_near_dups_verified(
            docs, "doc_id", "text", n_hashes=32, bands=bands, threshold=0.7,
            persisted=cached,
        )
        n_ver = ver.count()
        t_ver = time.monotonic() - t0
        for df in cached:
            df.unpersist()
        results.append(
            {
                "n_docs": n,
                "hot_frac": hot_frac,
                "bands": bands,
                "rows_per_band": rows_per_band,
                "candidates": n_cand,
                "verified": n_ver,
                "t_candidates_s": round(t_cand, 2),
                "t_verified_s": round(t_ver, 2),
            }
        )
        print(json.dumps(results[-1]), flush=True)
    return results


if __name__ == "__main__":
    main()
