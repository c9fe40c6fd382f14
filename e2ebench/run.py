"""Outside-in benchmark of the storm-report engine.

    python3 e2ebench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Runs one workload (etl_batch, analytics_e2e) in this process
on local[nproc], checks its outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans, writes them with the
per-layer metrics to e2ebench/traces/, and reports the per-layer metrics.
Exit status is 1 when any output check failed, 2 when the engine cannot be
imported. See e2ebench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import harness  # noqa: E402

WORKLOADS = {
    "etl_batch": "wl_batch",
    "analytics_e2e": "wl_analytics",
}


def declared_metrics(trace: bool) -> dict[str, str]:
    """{name: unit} of the metrics BENCHMARK.json declares for untraced
    (end_to_end) or traced (per_layer) runs."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


class Run:
    """One benchmark run: its settings, session, tracer, checks and
    metrics. Workload modules fill it in."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_id = f"{workload}-s{seed}-{os.getpid()}"
        self.workdir = os.path.join(harness.ROOT, ".e2ebench_work", self.run_id)
        self.tracer = harness.Tracer(trace, self.run_id)
        self.metrics: dict[str, float] = {}
        self.checks: list[tuple[str, bool, str]] = []
        #: extra records a workload adds to its trace file
        self.trace_extra: dict = {}
        #: raw samples behind each median, echoed to stderr
        self.samples: dict[str, list[float]] = {}
        self.ops = 0
        self.ops_failed = 0
        self.spark = None
        self.jvm = None
        self.jobs = None

    def start(self) -> float:
        os.makedirs(self.workdir, exist_ok=True)
        self.spark, start_s, self.jvm = harness.start_session(
            self.workdir, f"e2ebench-{self.workload}"
        )
        self.jobs = harness.JobCounter(self.spark.sparkContext)
        self.metrics["session.start_s"] = start_s
        return start_s

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), detail))
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        return bool(ok)

    def stop(self) -> None:
        if self.spark is not None:
            harness.stop_session(self.spark, self.jvm)
        shutil.rmtree(self.workdir, ignore_errors=True)

    def result(self) -> dict:
        attempted = self.ops + len(self.checks)
        failed = self.ops_failed + sum(1 for _, ok, _ in self.checks if not ok)
        self.metrics["failed_frac"] = failed / max(1, attempted)
        self.metrics["trace.spans"] = len(self.tracer.spans)
        out = {
            name: {"value": float(self.metrics.get(name, 0.0)), "unit": unit}
            for name, unit in declared_metrics(self.trace).items()
        }
        return {
            "correct": failed == 0,
            "attempted": max(1, attempted),
            "failed": failed,
            "metrics": out,
        }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        importlib.import_module("storm_data_etl_spark.session")
    except ImportError as e:
        print(f"e2ebench: cannot import the engine: {e}", file=sys.stderr)
        return 2

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    module = importlib.import_module(WORKLOADS[args.workload])
    try:
        module.run(run)
        run.metrics["peak_rss_mb"] = harness.peak_rss_mb(run.jvm.pid)
    except Exception:  # noqa: BLE001 — a crashed run reports as failed
        traceback.print_exc()
        run.ops_failed += 1
        run.ops += 1
    finally:
        run.stop()
    res = run.result()
    for name, xs in run.samples.items():
        print(f"e2ebench: {name} samples {[round(x, 3) for x in xs]}", file=sys.stderr)
    if run.trace:
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        run.tracer.write(
            os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json"),
            {"metrics": res["metrics"], "checks": run.checks, **run.trace_extra},
        )
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
