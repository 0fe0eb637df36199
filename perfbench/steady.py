"""Steadiness report: run workloads repeatedly with different seeds and
print, for every metric, the median and quartiles next to its bound.

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--trace 0]
        [--save runs.json] [--baseline parent-runs.json]

Each run is ``perfbench/run.py`` in a fresh process with seed 1..N.
The spread is (q3 - q1) / median, as ``statistics.quantiles(n=4)``
gives the quartiles; a metric is steady when its spread is within its
bound from BENCHMARK.json.  ``--save`` keeps every run's result; ``--baseline`` takes
such a file from another commit and prints each median's change
against it, so a later change can show a gain with the same tool.
With ``--trace 1`` the per-layer metrics are reported instead, and
with a ``--baseline`` of untraced runs the difference is the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.measure import quartiles  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "metrics": {}}
    result["exit"] = proc.returncode
    if proc.returncode:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
    return result


def report(runs: dict, specs: list[dict], baseline: dict | None) -> bool:
    steady = True
    for workload, results in runs.items():
        ok = [r for r in results if r.get("exit") == 0]
        print(f"\n{workload}: {len(ok)} of {len(results)} runs correct")
        print(f"  {'metric':32s} {'q1':>12s} {'median':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}"
              + (f" {'vs base':>8s}" if baseline else ""))
        for m in specs:
            vals = [r["metrics"][m["name"]]["value"] for r in ok
                    if m["name"] in r["metrics"]]
            if not vals:
                continue
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else 0.0
            bound = m.get("bound")
            flag = ""
            if bound is not None:
                flag = " ok" if spread <= bound else " NOISY"
                steady &= spread <= bound
            line = (f"  {m['name']:32s} {q1:12.4g} {med:12.4g} {q3:12.4g} "
                    f"{spread:8.3f} "
                    + (f"{bound:6.2f}" if bound is not None else f"{'-':>6s}"))
            if baseline and workload in baseline:
                # A traced metric compares with its untraced namesake:
                # the difference is the tracing overhead.
                name = m["name"]
                if baseline[workload] and name not in baseline[workload][0][
                        "metrics"]:
                    name = name.removeprefix("trace.")
                base = [r["metrics"][name]["value"]
                        for r in baseline[workload] if r.get("exit") == 0
                        and name in r["metrics"]]
                if base:
                    b = quartiles(base)[1]
                    line += (f" {(med - b) / b:+8.3f}" if b
                             else f" {med - b:+8.4g}")
            print(line + flag)
        steady &= len(ok) == len(results)
    return steady


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads",
                   default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seconds", type=int, default=bench["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--save")
    p.add_argument("--baseline")
    args = p.parse_args()
    specs = bench["per_layer" if args.trace else "end_to_end"]
    runs: dict[str, list] = {}
    for workload in args.workloads.split(","):
        for seed in range(args.first_seed, args.first_seed + args.runs):
            r = run_once(workload, seed, args.seconds, args.trace)
            runs.setdefault(workload, []).append(r)
            print(f"{workload} seed {seed}: exit {r['exit']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                if not k.startswith("exec.")), flush=True)
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(runs, fh)
    baseline = None
    if args.baseline:
        with open(args.baseline) as fh:
            baseline = json.load(fh)
    return 0 if report(runs, specs, baseline) else 1


if __name__ == "__main__":
    sys.exit(main())
