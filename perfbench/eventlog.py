"""Summarise a Spark event log by the job descriptions the program sets.

The crawl's pooled writes tag their jobs ``round{K}:write:{name}``; every
other job (bloom build, compaction, counts) falls in the ``other`` group.
Only events inside the wall-clock window [lo_ms, hi_ms] count, so the
warm-up and the isolated layer timings of the same process are left out.
"""

from __future__ import annotations

import json
import os
import re

from spans import covered

WRITE_GROUPS = ["crawl_order", "frontier_next", "attachments_new", "articles", "lineage"]
GROUPS = WRITE_GROUPS + ["other"]
_DESC = re.compile(r"^round\d+:write:(\w+)$")


def _group(desc: str | None) -> str:
    m = _DESC.match(desc or "")
    return m.group(1) if m and m.group(1) in WRITE_GROUPS else "other"


def _log_files(event_dir: str) -> list[str]:
    """Event files in write order; Spark 4 writes a rolling log as
    ``eventlog_v2_<app>/events_<n>_<app>`` beside an ``appstatus`` marker."""
    out = []
    for d, _, files in os.walk(event_dir):
        for f in files:
            if f.startswith("events_"):
                out.append((int(f.split("_")[1]), os.path.join(d, f)))
            elif not f.startswith((".", "appstatus")) and d == event_dir:
                out.append((0, os.path.join(d, f)))
    return [p for _, p in sorted(out)]


def summarize(event_dir: str, lo_ms: float, hi_ms: float) -> dict:
    stage_group: dict[int, str] = {}
    task_s = {g: 0.0 for g in GROUPS}
    shuffle_mb = {g: 0.0 for g in GROUPS}
    spill_mb = {g: 0.0 for g in GROUPS}
    busy: list[tuple[float, float]] = []
    blocks: dict[str, float] = {}
    cache_mb = cache_peak_mb = 0.0
    now = 0.0
    for path in _log_files(event_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    now = ev.get("Submission Time", now)
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = _group(desc)
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    start, end = info["Launch Time"], info["Finish Time"]
                    now = end
                    if end < lo_ms or start > hi_ms:
                        continue
                    g = stage_group.get(ev["Stage ID"], "other")
                    m = ev.get("Task Metrics") or {}
                    task_s[g] += m.get("Executor Run Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    shuffle_mb[g] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    spill_mb[g] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
                    busy.append((max(start, lo_ms), min(end, hi_ms)))
                elif kind == "SparkListenerBlockUpdated":
                    upd = ev["Block Updated Info"]
                    bid = upd["Block ID"]
                    if not bid.startswith("rdd_"):
                        continue
                    size = upd.get("Memory Size", 0) / 2**20
                    cache_mb += size - blocks.get(bid, 0.0)
                    blocks[bid] = size
                    if lo_ms <= now <= hi_ms:
                        cache_peak_mb = max(cache_peak_mb, cache_mb)
    window = max(hi_ms - lo_ms, 1e-9)
    out = {
        "spark.idle_core_share": 1.0 - covered(busy, lo_ms, hi_ms) / window,
        "spark.cache_peak_mb": cache_peak_mb,
        "spark.task_s": sum(task_s.values()),
        "spark.shuffle_write_mb": sum(shuffle_mb.values()),
        "spark.spill_mb": sum(spill_mb.values()),
    }
    for g in GROUPS:
        out[f"spark.task_s.{g}"] = task_s[g]
        out[f"spark.shuffle_write_mb.{g}"] = shuffle_mb[g]
        out[f"spark.spill_mb.{g}"] = spill_mb[g]
    return out
