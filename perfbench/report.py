#!/usr/bin/env python3
"""Steadiness and trace reports over repeated benchmark runs.

    python3 perfbench/report.py all [--seed 1]
    python3 perfbench/report.py steadiness [--workload W ...] [--runs 10] [--seed0 1]
    python3 perfbench/report.py trace [--workload W ...] [--seed 1]

``all`` runs every workload once, the ungated ``corpus_export``
included, and prints each one's end-to-end metrics with their units
and the workload-specific ones of its ``extra`` line.

``steadiness`` runs each workload ``--runs`` times, each with another
seed, and prints per end-to-end metric the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread: the distance
between the quartiles as a share of the median, next to the metric's
bound in BENCHMARK.json. A spread above a third of its bound is marked.

``trace`` makes one traced run per workload and prints its per-layer
metrics, the self time of each span, and the tracing overhead.

Run from the checkout root; every run is ``perfbench/run.py``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def bench():
    return json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))


def run(workload, seed, seconds, trace):
    """One run: (result JSON, the lines printed before it)."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed ({workload}, seed {seed}):\n{p.stderr[-2000:]}")
    return json.loads(lines[-1]), lines[:-1]


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def run_all(args, b):
    sys.path.insert(0, HERE)
    import run as bench_run
    for w in bench_run.WORKLOADS:
        res, lines = run(w, args.seed, b["run_seconds"], 0)
        print(f"\n{w} (seed {args.seed}): correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}")
        for k, v in res["metrics"].items():
            print(f"  {k:16} {v['value']:14.4f} {v['unit']}")
        for line in lines:
            if line.startswith("extra "):
                for k, v in json.loads(line[6:]).items():
                    unit = {"failed_ratio": "1", "latency_p90_s": "s",
                            "docs_per_s": "1/s",
                            "heap_peak_mb": "MB"}.get(k, "count")
                    print(f"  {k:16} {v:14.4f} {unit}")


def steadiness(args, b):
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    for w in args.workload:
        values, failed = {}, 0
        for i in range(args.runs):
            res, _ = run(w, args.seed0 + i, b["run_seconds"], 0)
            failed += res["failed"]
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"\n{w}: {args.runs} runs, seeds {args.seed0}.."
              f"{args.seed0 + args.runs - 1}, failed ops {failed}")
        print(f"  {'metric':16} {'q1':>10} {'median':>10} {'q3':>10} "
              f"{'spread':>7} {'bound':>6}")
        for k, vs in values.items():
            q1, med, q3, s = spread(vs)
            flag = "  > bound/3" if s > bounds[k] / 3 else ""
            print(f"  {k:16} {q1:10.4f} {med:10.4f} {q3:10.4f} "
                  f"{s:7.3f} {bounds[k]:6.2f}{flag}")
            print(f"  {'':16} runs: " + " ".join(f"{v:.4f}" for v in vs))


def trace(args, b):
    for w in args.workload:
        res, lines = run(w, args.seed, b["run_seconds"], 1)
        print(f"\n{w} (traced, seed {args.seed}); per-layer metrics:")
        for k, v in res["metrics"].items():
            print(f"  {k:32} {v['value']:16.6f} {v['unit']}")
        for line in lines:
            if line.startswith("spans "):
                print("  self time per span, s/op:")
                for name, s in json.loads(line[6:]).items():
                    print(f"    {name:44} {s:10.4f}")
        print(f"  tracing overhead (traced - untraced wall_s): "
              f"{res['metrics']['trace.overhead_s']['value']:.4f} s")


def main():
    b = bench()
    names = [w["name"] for w in b["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("report", choices=("all", "steadiness", "trace"))
    ap.add_argument("--workload", action="append")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    args.workload = args.workload or names
    {"all": run_all, "steadiness": steadiness, "trace": trace}[args.report](args, b)


if __name__ == "__main__":
    main()
