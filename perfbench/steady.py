"""Steadiness evidence for the benchmark.

    python3 perfbench/steady.py runs --workload W --seeds 1-10 --out A.json
    python3 perfbench/steady.py check A.json B.json
    python3 perfbench/steady.py counts --workload W --seed 1 --out C.json

``runs`` runs the benchmark once per seed (tracing off) and records every
end-to-end value, each metric's quartiles and spread (the distance between
the first and third quartile as a share of the median) and the 1-minute
load average before and after, plus the share of CPU time the host stole
during each run. ``check`` holds two such sets against the
bounds in BENCHMARK.json: every spread within its bound, and no median
of the second set off the first's, better or worse, by more than the
bound. ``counts`` makes two traced runs at one seed and requires every
count to repeat exactly; it also records the tracing overhead.

Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNT_UNITS = ("count", "B", "ratio")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_once(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(spec()["run_seconds"]), "--trace", str(trace)]
    load_before = os.getloadavg()[0]
    cpu_before = cpu_times()
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    delta = [b - a for a, b in zip(cpu_before, cpu_times())]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return {"seed": seed, "exit": proc.returncode, "wall_s": wall, "load1_before": load_before,
            "load1_after": os.getloadavg()[0], "steal_share": delta[7] / max(1, sum(delta)),
            "result": result,
            "stderr_tail": proc.stderr[-2000:] if proc.returncode else ""}


def quartiles(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"q1": q1, "median": med, "q3": q3, "spread": (q3 - q1) / med if med else None}


def cmd_runs(args) -> int:
    lo, _, hi = args.seeds.partition("-")
    seeds = range(int(lo), int(hi or lo) + 1)
    runs = []
    for seed in seeds:
        r = run_once(args.workload, seed, 0)
        runs.append(r)
        print(f"seed {seed}: exit {r['exit']} wall {r['wall_s']:.1f}s load1 {r['load1_before']:.2f} "
              f"steal {r['steal_share']:.3f}", flush=True)
    bounds = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    ok_runs = [r for r in runs if r["result"] is not None]
    summary = {}
    for name in bounds:
        vals = [r["result"]["metrics"][name]["value"] for r in ok_runs]
        summary[name] = {"values": vals, **quartiles(vals)}
    doc = {"workload": args.workload, "run_seconds": spec()["run_seconds"],
           "nproc": os.cpu_count(), "runs": runs, "metrics": summary,
           "load1_start": runs[0]["load1_before"], "load1_end": runs[-1]["load1_after"],
           "all_correct": all(r["exit"] == 0 and r["result"]["correct"] for r in ok_runs)
           and len(ok_runs) == len(runs)}
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)
    for name, m in summary.items():
        print(f"{name:20s} median {m['median']:.4g}  spread {m['spread']:.3f}  "
              f"(bound {bounds[name]}, a third {bounds[name] / 3:.3f})")
    return 0 if doc["all_correct"] else 1


def compare(a: dict, b: dict, bounds: dict) -> list[str]:
    """Failures of set ``b`` against set ``a`` of one workload."""
    bad = []
    for name, bound in bounds.items():
        ma, mb = a["metrics"][name], b["metrics"][name]
        for label, m in (("first", ma), ("second", mb)):
            if m["spread"] > bound:
                bad.append(f"{a['workload']} {name}: {label} spread {m['spread']:.3f} > {bound}")
        change = (mb["median"] - ma["median"]) / ma["median"]
        if abs(change) > bound:
            bad.append(f"{a['workload']} {name}: second median off by {change:+.3f}, "
                       f"more than {bound}")
    return bad


def cmd_check(args) -> int:
    s = spec()
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    with open(args.first) as f:
        a = json.load(f)
    with open(args.second) as f:
        b = json.load(f)
    if a["workload"] != b["workload"]:
        print("the two sets are of different workloads")
        return 2
    bad = compare(a, b, bounds)
    for name in bounds:
        print(f"{a['workload']:18s} {name:18s} median {a['metrics'][name]['median']:.4g} -> "
              f"{b['metrics'][name]['median']:.4g}  spread {a['metrics'][name]['spread']:.3f} / "
              f"{b['metrics'][name]['spread']:.3f}  bound {bounds[name]}")
    for line in bad:
        print("FAIL", line)
    return 1 if bad else 0


def cmd_counts(args) -> int:
    units = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    runs = [run_once(args.workload, args.seed, 1) for _ in range(2)]
    if any(r["result"] is None for r in runs):
        print("a traced run printed no result")
        return 1
    vals = [{n: v["value"] for n, v in r["result"]["metrics"].items()} for r in runs]
    counts = [n for n, u in units.items() if u in COUNT_UNITS and not n.startswith("trace.")]
    differ = [n for n in counts if vals[0][n] != vals[1][n]]
    doc = {"workload": args.workload, "seed": args.seed, "runs": runs,
           "counts_repeat_exactly": not differ, "differ": differ,
           "overhead_ratio": [v["trace.overhead_ratio"] for v in vals]}
    with open(args.out, "w") as f:
        json.dump(doc, f, indent=1)
    for n in counts:
        print(f"{n:30s} {vals[0][n]!r:>14} {vals[1][n]!r:>14}")
    print("tracing overhead (traced / untraced pass):", doc["overhead_ratio"])
    print("counts repeat exactly" if not differ else f"counts differ: {differ}")
    return 0 if not differ else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="a seed or a range lo-hi")
    r.add_argument("--out", required=True)
    c = sub.add_parser("check")
    c.add_argument("first")
    c.add_argument("second")
    n = sub.add_parser("counts")
    n.add_argument("--workload", required=True)
    n.add_argument("--seed", type=int, required=True)
    n.add_argument("--out", required=True)
    args = p.parse_args()
    return {"runs": cmd_runs, "check": cmd_check, "counts": cmd_counts}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
