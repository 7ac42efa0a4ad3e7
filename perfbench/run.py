"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload slice_interactive --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The workloads (see perfbench/README.md):

* ``slice_interactive``: driver-side slicing and patch writes on a zlib cube.
* ``volume_etl``: SEG-Y ingest, zone map, scans and export on Spark.

Each workload is a closed loop with one client. With ``--trace 0`` the last
line of standard output is a JSON object with the end-to-end metrics; with
``--trace 1`` the run alternates untraced and traced passes and reports the
per-layer metrics plus the tracing overhead. The exit code is non-zero when
any op failed or returned a wrong answer.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started, from the kernel's records."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# perf_counter() value at process start: set-up time counts from here
T0 = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import sys  # noqa: E402

import layers  # noqa: E402
from common import Outcome, WorkDir, median  # noqa: E402
from spans import Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("slice_interactive", "volume_etl")


class Context:
    def __init__(self, args, work, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = ROOT
        self.work = work
        self.tracer = tracer
        self.t0 = T0


def per_layer(report: dict, units: dict[str, str]) -> dict[str, float]:
    """Times are the median over the traced passes; counts, ratios and
    rates come from the first traced pass, so they repeat exactly at one
    seed. A layer the workload does not reach reads 0."""
    passes = report["layers"]
    out = {}
    for name, unit in units.items():
        if name.startswith("trace."):
            continue
        if unit in ("ms", "s"):
            out[name] = median([p[name] for p in passes])
        else:
            out[name] = passes[0][name]
    traced, untraced = median(report["traced_pass_s"]), median(report["pass_s"])
    out["trace.pass_s"] = traced
    out["trace.untraced_pass_s"] = untraced
    out["trace.overhead_ratio"] = traced / untraced
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    import mdio_cpp_spark  # noqa: F401  the engine must be in the checkout

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    work = WorkDir(ROOT, args.workload)
    tracer = Tracer()
    if args.trace:
        layers.install(tracer)
    try:
        mod = importlib.import_module(args.workload)
        report = mod.run(Context(args, work, tracer))
    finally:
        tracer.uninstall()
        work.close()

    out: Outcome = report["outcome"]
    if args.trace:
        spans_dir = os.path.join(ROOT, ".perfbench_spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        values = per_layer(report, units)
    else:
        values = report["end_to_end"]
    for name, (value, unit) in report["extras"].items():
        print(f"{name:28s} {value if value is not None else 'n/a'} {unit}")
    print(f"{'op_error_ratio':28s} {out.failed / max(1, out.attempted)} ratio")
    for name, value in values.items():
        print(f"{name:28s} {value} {units[name]}")
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    print(json.dumps(result))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
