#!/usr/bin/env python3
"""Steadiness check: run each workload several times, one seed per run, and
report every metric's median and its spread (distance between the first and
third quartile over the median). The end-to-end bounds in BENCHMARK.json are
set from these spreads.

    python3 perfbench/steady.py --runs 10 [--workloads fhir_ingest,...]

Run k uses seed k and the run length BENCHMARK.json gives. Runs go one
after another from the current directory (a graft checkout); the summary
is one JSON object on stdout, each run's figures go to stderr.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / abs(med)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", help="comma-separated; default: every workload in BENCHMARK.json")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]

    summary = {}
    for w in workloads:
        runs, walls, failed, attempted = [], [], 0, 0
        for k in range(args.runs):
            seed = k + 1
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "0"],
                               capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            failed += r["failed"]
            attempted += r["attempted"]
            runs.append(r)
            print(f"{w} seed {seed}: {walls[-1]:.0f} s wall, correct={r['correct']} "
                  + " ".join(f"{m}={v['value']:.4g}" for m, v in r["metrics"].items()), file=sys.stderr)
        metrics = {}
        for m in (runs[0]["metrics"] if runs else {}):
            vals = [r["metrics"][m]["value"] for r in runs]
            med, sp = spread(vals)
            metrics[m] = {"median": med, "spread": round(sp, 4), "min": min(vals), "max": max(vals)}
        summary[w] = {"runs": len(runs), "all_correct": all(r["correct"] for r in runs),
                      "attempted": attempted, "failed": failed,
                      "wall_s_median": round(statistics.median(walls), 1),
                      "wall_s_total": round(sum(walls), 1), "metrics": metrics}
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
