"""Self-test of the benchmark at tiny scale.

    python3 -m pytest perfbench/tests -q

The end-to-end tests run every workload through ``run.py`` with and
without tracing (about a minute each: every run starts its own JVM) and
check that every metric BENCHMARK.json names prints with its unit, and
that every metric the report names prints by name. The corruption tests
feed deliberately broken outputs to the workloads' own checks and expect a
failed operation; they need no Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import crawl_workload  # noqa: E402
import dedup_workload  # noqa: E402
from checks import order_digest  # noqa: E402
from ops import Ops  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

REPORTED = ["setup_s", "urls_per_s", "cpu_us_per_url", "round_p50_s",
            "docs_per_s", "cpu_us_per_doc", "pairs_p50_s", "error_rate"]


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_print_with_units(workload):
    result, report = _run(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for name in REPORTED:
        assert f"  {name} " in report, name


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_per_layer_metrics_print_with_units(workload):
    result, report = _run(workload, trace=1)
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for name in want:
        assert f"  {name} " in report, name
    spans = os.path.join(ROOT, ".perfbench_out", f"{workload}-seed7-tiny-spans.jsonl")
    assert os.path.getsize(spans) > 0
    if workload == "recrawl-deep":
        assert result["metrics"]["trace.attributed_share"]["value"] >= 0.9


def _crawl_out():
    order = [(0, "https://h0.example.com/p/1", 0), (1, "https://h1.example.com/p/2", 0),
             (2, "https://h0.example.com/p/3", 1)]
    return {
        "order": order,
        "articles": [],
        "sample": [("https://h0.example.com/p/1", b"<p>a</p>", "a")],
        "budgets": {"h0.example.com": 1, "h1.example.com": 1},
        "rules": [("h1.example.com", "/private/", False)],
    }


def test_intact_crawl_output_passes():
    out, ops = _crawl_out(), Ops()
    crawl_workload.run_checks(ops, out, 3, order_digest(out["order"]))
    assert ops.failed == 0 and ops.attempted == 7


def test_swapped_rank_is_a_failed_operation():
    out, ops = _crawl_out(), Ops()
    expected = order_digest(out["order"])
    (r0, u0, k0), (r1, u1, k1) = out["order"][:2]
    out["order"][:2] = [(r0, u1, k1), (r1, u0, k0)]
    crawl_workload.run_checks(ops, out, 3, expected)
    assert ops.failed == 1 and ops.failures == ["crawl_order digest"]


def test_repeated_rank_is_a_failed_operation():
    out, ops = _crawl_out(), Ops()
    out["order"][2] = (1,) + out["order"][2][1:]
    crawl_workload.run_checks(ops, out, 3, None)
    assert "ranks 0..N-1 once" in ops.failures


def _dedup_out():
    texts = {1: "a b c d", 2: "a b c e", 5: "x y z w", 9: "x y z w"}
    pairs = [(1, 2, 0.6), (5, 9, 1.0)]
    comps = {1: 1, 2: 1, 5: 5, 9: 5}
    return pairs, comps, texts


def test_intact_dedup_output_passes():
    pairs, comps, texts = _dedup_out()
    ops = Ops()
    dedup_workload.check_outputs(ops, pairs, comps, texts, 10, 8, 1.0, 1.0)
    assert ops.failed == 0 and ops.attempted == 4


def test_dropped_pair_is_a_failed_operation():
    pairs, comps, texts = _dedup_out()
    ops = Ops()
    dedup_workload.check_outputs(ops, pairs[:1], comps, texts, 10, 8, 1.0, 1.0)
    assert ops.failures == ["component = union-find min id"]
