#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001-sized inputs.

    python3 perfbench/selftest.py        # from the checkout root

For every workload in run.py (the gated ones of BENCHMARK.json and
``corpus_export``) it checks that

  * an untraced run prints every end-to-end metric of BENCHMARK.json,
    and a traced run every per-layer metric, each with its unit, and
    the outputs check correct;
  * a run whose expected outputs are corrupted reports failed > 0;
  * another seed changes the operation order but not the metric names.

Exits non-zero on the first failed expectation.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

SIZES = {
    "structure_interactive": {"sf": 0.001, "warm_sf": 0.001, "docs": 50},
    "corpus_export": {"sf": 0.001, "docs": 100},
    "stream_ingest": {"base_docs": 100, "batch_docs": 50},
}


def go(workload, seed, trace=0, corrupt=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--sizes", json.dumps(SIZES[workload])]
    if corrupt:
        cmd.append("--corrupt")
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    expect(p.returncode == 0, f"{workload} seed {seed} exited "
           f"{p.returncode}: {p.stderr[-1500:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    plan = open(f".bench_work/{workload}/plan.tsv").read().splitlines()
    order = [line.split("\t")[1] for line in plan
             if not line.startswith("0\t")]
    return res, order


def expect(ok, msg):
    if not ok:
        print(f"FAIL {msg}")
        sys.exit(1)


def main():
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in run.WORKLOADS:
        res1, order1 = go(w, 1)
        got = {k: v["unit"] for k, v in res1["metrics"].items()}
        expect(got == e2e, f"{w}: end-to-end metrics {got} != {e2e}")
        expect(res1["correct"] and res1["failed"] == 0,
               f"{w}: outputs wrong on a correct build: {res1}")
        # the order is a function of the seed; seeds 1 and 3 give different
        # orders on every workload (1 and 2 do not on corpus_export)
        res3, order3 = go(w, 3)
        expect(set(res3["metrics"]) == set(res1["metrics"]),
               f"{w}: metric names depend on the seed")
        expect(order1 != order3, f"{w}: seeds 1 and 3 ran the same order")
        bad, _ = go(w, 1, corrupt=True)
        expect(bad["failed"] > 0 and not bad["correct"],
               f"{w}: corrupted expected output not detected: {bad}")
        traced, _ = go(w, 1, trace=1)
        got = {k: v["unit"] for k, v in traced["metrics"].items()}
        expect(got == layer, f"{w}: per-layer metrics differ: "
               f"{sorted(set(got) ^ set(layer))}")
        print(f"ok {w}")


if __name__ == "__main__":
    main()
