"""Benchmark entry point.

    python3 perfbench/run.py --workload recrawl-deep --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of this repository. One driver process at
local[4] runs one crawl or dedup job at a time (a closed loop). Set-up
starts the Spark session, generates the workload's input tables from
``--seed`` and runs the workload once untimed as warm-up. Then the
operation is repeated until ``--seconds`` have passed (at least once),
with the cache cleared and checked empty between repetitions, and the
last repetition's outputs are checked for correctness.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` instead runs
one traced repetition (module-attribute spans, Spark event log, JVM thread
CPU), one untraced reference repetition to measure the tracing overhead,
and each layer's public function alone on the traced run's last inputs,
and reports the per-layer metrics. The spans are written as JSON lines to
``.perfbench_out/`` in the checkout.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before it
are a readable report. All files the run makes stay inside the checkout.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "colymer_acquirers_spark"
WORKLOADS = {"recrawl-deep": "crawl_workload", "dedup-corpus": "dedup_workload"}
CORES = 4

# end-to-end metric names as BENCHMARK.json declares them, per workload:
# (name in the JSON line, workload-specific name, unit)
E2E = {
    "recrawl-deep": [("items_per_s", "urls_per_s", "1/s"),
                     ("cpu_us_per_item", "cpu_us_per_url", "us"),
                     ("step_p50_s", "round_p50_s", "s")],
    "dedup-corpus": [("items_per_s", "docs_per_s", "1/s"),
                     ("cpu_us_per_item", "cpu_us_per_doc", "us"),
                     ("step_p50_s", "pairs_p50_s", "s")],
}
REPORT_ONLY = [("urls_per_s", "URL/s"), ("cpu_us_per_url", "us"), ("round_p50_s", "s"),
               ("docs_per_s", "doc/s"), ("cpu_us_per_doc", "us"), ("pairs_p50_s", "s")]


class Context:
    """What a workload needs from the run: arguments, scratch space,
    operation accounting and the recorded expected values."""

    def __init__(self, args, work: str, out_dir: str):
        from ops import Ops

        self.workload, self.seed, self.scale = args.workload, args.seed, args.scale
        self.seconds = args.seconds
        self.work = work
        self.ops = Ops()
        self.info: dict = {}
        self.recorded: dict = {}
        self.setup_s: float | None = None
        self.window_ms: list[float] = []
        self.spans_path = os.path.join(
            out_dir, f"{args.workload}-seed{args.seed}-{args.scale}-spans.jsonl")
        with open(os.path.join(HERE, "expected.json")) as f:
            table = json.load(f)
        self._expected = table.get(args.workload, {}).get(args.scale, {}).get(str(args.seed), {})

    def expected(self, key: str):
        return self._expected.get(key)

    def record(self, key: str, value) -> None:
        self.recorded[key] = value

    def mark_setup_done(self) -> None:
        self.setup_s = time.monotonic() - T_START

    def event_window_open(self) -> None:
        self.window_ms = [time.time() * 1e3]

    def event_window_close(self) -> None:
        self.window_ms.append(time.time() * 1e3)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the benchmark's self-test")
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    from colymer_acquirers_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logBlockUpdates.enabled": "true",
        })
    return get_spark(app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark and the JVM it runs in; wait until every process this
    run started has ended."""
    import procstat
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while procstat.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def report(args, ctx, metrics: dict, units: dict) -> None:
    ops = ctx.ops
    rate = ops.failed / max(ops.attempted, 1)
    print(f"# perfbench {args.workload} seed={args.seed} scale={args.scale} "
          f"trace={args.trace} cores={CORES}")
    for k, v in sorted(ctx.info.items()):
        print(f"#   {k}: {v}")
    for k, v in sorted(ctx.recorded.items()):
        print(f"#   recorded {k}: {v}")
    if args.trace == 0:
        specific = {spec: metrics.get(gen) for gen, spec, _ in E2E[args.workload]}
        print(f"  {'setup_s':<24} {metrics.get('setup_s', float('nan')):>14.4f} s")
        for name, unit in REPORT_ONLY:
            v = specific.get(name)
            shown = f"{v:>14.4f}" if v is not None else f"{'n/a':>14}"
            print(f"  {name:<24} {shown} {unit}")
        print(f"  {'error_rate':<24} {rate:>14.4f} ratio "
              f"({ops.failed} failed / {ops.attempted} attempted operations)")
    else:
        for k in sorted(metrics):
            print(f"  {k:<48} {metrics[k]:>14.4f} {units[k]}")
        print(f"  {'error_rate':<48} {rate:>14.4f} ratio")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside {os.path.basename(HERE)}/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, os.path.join(work, "tmp"), out_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
    })
    import layers
    import procstat

    workload = __import__(WORKLOADS[args.workload])
    ctx = Context(args, work, out_dir)
    spark = None
    try:
        try:
            t = time.monotonic()
            spark = start_spark(work, args.trace == 1)
            session_s = time.monotonic() - t
            ctx.info["session_s"] = round(session_s, 3)
            st = workload.setup(spark, ctx)
            if args.trace == 0:
                found = workload.measure(spark, ctx, st)
                metrics = {"setup_s": ctx.setup_s}
                for gen, spec, _ in E2E[args.workload]:
                    if spec in found:
                        metrics[gen] = found[spec]
            else:
                metrics = {k: 0.0 for k in layers.PER_LAYER}
                metrics.update(workload.trace(spark, ctx, st))
                metrics["session.get_spark_s"] = session_s
                metrics["jvm.peak_rss_mb"] = procstat.peak_rss_mb(procstat.jvm_pid())
        finally:
            if spark is not None:
                stop_spark(spark)
        if args.trace == 1 and len(ctx.window_ms) == 2:
            import eventlog

            metrics.update(eventlog.summarize(os.path.join(work, "events"), *ctx.window_ms))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = layers.PER_LAYER if args.trace == 1 else {
        "setup_s": "s", **{gen: unit for gen, _, unit in E2E[args.workload]}}
    complete = all(k in metrics and metrics[k] is not None for k in units)
    correct = ctx.ops.failed == 0 and complete
    report(args, ctx, metrics, units)
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "metrics": {k: {"value": float(metrics.get(k) or 0.0), "unit": u}
                    for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
