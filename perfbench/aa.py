"""A/A check: run each workload as two sets of runs on the same code and
compare the sets.

    python3 perfbench/aa.py --runs 5
    python3 perfbench/aa.py --runs 3 --workloads stream_drain --trace 1

Run from the repository root. Runs alternate between set A and set B,
each run with its own seed, using the command and run length recorded in
``BENCHMARK.json``. For every metric it prints each set's median and
quartiles, the spread (q3 - q1) / median of each set and of all runs, and
whether set B's median lies within the metric's bound of set A's. With
``--trace 1`` it prints the per-layer metrics instead and lists which
counts repeated exactly across all runs. The exit code is 0 only when
every run was correct and every bounded metric agreed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}, no result")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    result["info"] = json.loads(proc.stderr.strip().splitlines()[-1])
    return result


def spread(values) -> float:
    q1, q2, q3 = stats.quartiles(values)
    return (q3 - q1) / q2 if q2 else 0.0


def report(workload: str, runs: dict, specs: list, trace: int) -> bool:
    """Print one workload's table; True when every bounded metric agreed."""
    both = runs["A"] + runs["B"]
    attempted = sum(r["attempted"] for r in both)
    failed = sum(r["failed"] for r in both)
    walls = [r["wall_s"] for r in both]
    print(f"\n{workload}: {len(runs['A'])}+{len(runs['B'])} runs, fail_frac {failed}/{attempted}"
          f" = {failed / attempted:.4f}, wall per run median {stats.median(walls):.1f} s,"
          f" max {max(walls):.1f} s")
    print(f"  {'metric':30s} {'unit':8s} {'A median [q1, q3]':>34s} {'spread':>7s}"
          f" {'B median [q1, q3]':>34s} {'spread':>7s} {'all':>7s}  verdict")
    ok = True
    for spec in specs:
        name, unit, bound = spec["name"], spec["unit"], spec.get("bound")
        cells = []
        for side in "AB":
            q1, q2, q3 = stats.quartiles([r["metrics"][name]["value"] for r in runs[side]])
            cells.append((q2, f"{q2:.4g} [{q1:.4g}, {q3:.4g}]", spread([r["metrics"][name]["value"] for r in runs[side]])))
        values = [r["metrics"][name]["value"] for r in both]
        if bound is not None:
            (a, *_), (b, *_) = cells
            agree = abs(b - a) <= bound * abs(a)
            ok &= agree
            verdict = f"{'agree' if agree else 'DIFFER'} within {bound:g} ({(b - a) / a:+.3f})"
        elif unit in ("count", "bytes"):
            verdict = "repeats exactly" if len(set(values)) == 1 else f"varies {min(values):g}..{max(values):g}"
        else:
            verdict = ""
        print(f"  {name:30s} {unit:8s} {cells[0][1]:>34s} {cells[0][2]:7.3f}"
              f" {cells[1][1]:>34s} {cells[1][2]:7.3f} {spread(values):7.3f}  {verdict}")
    return ok and failed == 0


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]),
                    help="comma-separated; any workload run.py knows (default: those in BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first run")
    ap.add_argument("--out", help="also write every run's result and provenance to this JSON file")
    args = ap.parse_args(argv)

    specs = bench["per_layer"] if args.trace else bench["end_to_end"]
    ok = True
    seed = args.seed
    everything = {}
    for workload in args.workloads.split(","):
        runs = {"A": [], "B": []}
        for i in range(2 * args.runs):
            side = "AB"[i % 2]
            result = run_once(bench, workload, seed, args.trace)
            print(f"{workload} seed {seed} set {side}: correct {result['correct']},"
                  f" {result['wall_s']:.1f} s", file=sys.stderr, flush=True)
            runs[side].append(result)
            seed += 1
        ok &= report(workload, runs, specs, args.trace)
        everything[workload] = runs
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(everything, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
