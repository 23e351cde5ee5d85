#!/usr/bin/env python3
"""Steadiness of the benchmark: repeat workloads over seeds and print, per
metric, the median, the quartiles and the quartile spread as a share of the
median, next to the bound BENCHMARK.json gives the metric.

    python3 perfbench/steady.py --runs 10 --first-seed 1
    python3 perfbench/steady.py --workloads mor_read_mix --runs 5

A metric passes when its spread stays under a third of its bound (setup_s
is judged on its median only). Also prints the wall time of each run and
the time a full set of runs takes (4 + 22 per workload).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    metrics = spec["per_layer" if args.trace else "end_to_end"]
    walls = []
    worst = 0.0
    for w in args.workloads:
        values = {m["name"]: [] for m in metrics}
        failures = 0
        for i in range(args.runs):
            seed = args.first_seed + i
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(args.seconds), "--trace", str(args.trace)],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            lines = r.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                res = None
            if r.returncode != 0 or res is None or not res["correct"] or res["failed"]:
                failures += 1
                print(f"{w} seed {seed}: exit {r.returncode}, "
                      f"result {lines[-1] if lines else '(none)'}", flush=True)
                continue
            for name in values:
                values[name].append(res["metrics"][name]["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s, " + ", ".join(
                f"{n}={v[-1]:.4g}" for n, v in values.items()), flush=True)
        print(f"\n# {w}: {args.runs - failures}/{args.runs} runs ok")
        print(f"  {'metric':40s} {'median':>11s} {'q1':>11s} {'q3':>11s} "
              f"{'iqr/med':>8s} {'bound':>6s}  verdict")
        for m in metrics:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            bound = m.get("bound")
            verdict = ""
            if bound is not None:
                if m["name"] == "setup_s":
                    verdict = "median only"
                else:
                    worst = max(worst, spread / bound)
                    verdict = "ok" if spread < bound / 3 else (
                        "within bound" if spread <= bound else "TOO WIDE")
            print(f"  {m['name']:40s} {med:11.5g} {q1:11.5g} {q3:11.5g} "
                  f"{spread:8.3f} {bound if bound is not None else '':>6}  {verdict}")
        print()
    if walls:
        mean = statistics.mean(walls)
        total = (4 + 22 * len(spec["workloads"])) * mean
        print(f"# run wall: mean {mean:.1f} s, max {max(walls):.1f} s; "
              f"a full set of {4 + 22 * len(spec['workloads'])} runs takes ~{total:.0f} s")
        print(f"# widest spread as a share of its bound: {worst:.2f}")


if __name__ == "__main__":
    main()
