#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/spread.py --workload serve --seeds 1 2 3 4 5 [--seconds 12]

Runs `run.py` once per seed (each run's last stdout line is kept under
`.bench_work/spread/`), then prints, per metric, the median and the
inter-quartile range as a share of the median (`statistics.quantiles`,
n=4) next to the metric's bound from BENCHMARK.json. A spread above a
third of the bound is flagged: such a metric is too noisy to gate on.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spreads(results, bounds):
    rows = []
    names = sorted({k for r in results for k in r["metrics"]})
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        rel = (q3 - q1) / med if med else float("inf")
        rows.append((name, med, rel, bounds.get(name)))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]
    results = []
    out_dir = os.path.join(ROOT, ".bench_work", "spread", a.workload)
    os.makedirs(out_dir, exist_ok=True)
    for seed in a.seeds:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited with {p.returncode}")
        last = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(out_dir, f"seed{seed}.json"), "w") as fh:
            json.dump(last, fh)
        results.append(last)
        print(f"seed {seed}: correct={last['correct']} failed={last['failed']}/{last['attempted']}",
              flush=True)
    print(f"{'metric':<16} {'median':>12} {'IQR/median':>11} {'bound':>6}")
    for name, med, rel, bound in spreads(results, bounds):
        flag = "" if bound is None or name == "setup_s" or rel <= bound / 3 else "  <-- above bound/3"
        print(f"{name:<16} {med:>12.5g} {rel:>11.4f} {bound if bound is not None else '-':>6}{flag}")


if __name__ == "__main__":
    main()
