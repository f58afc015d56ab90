#!/usr/bin/env python3
"""Write the structural budget that BenchBudgetSpec enforces: for each
query, the largest `jobs` and `exchanges` in the `profile` map of one
or more graft.Bench detail files, raised to the WIDENED entries below.

Usage: make_budget.py <bench_detail.json>... > src/test/resources/bench_budget_sf0.001.json

Every query must have succeeded in every file: a failed query has no
count to budget.
"""
import json
import sys

COUNTERS = ("jobs", "exchanges")

# Queries whose counts vary from run to run at sf0.001 on local[4]:
# the largest counts seen, and why they vary.
WIDENED = {
    # AQE turns the final sort-merge left join into a broadcast join
    # when its `winners` side has finished before the plan is
    # re-optimized: one more broadcast exchange and job. Eight runs in
    # one JVM read 10 jobs / 8 exchanges four times and 11 / 9 four
    # times.
    "q_robots_gate": {"jobs": 11, "exchanges": 9},
}


def main(paths):
    budget = {}
    for path in paths:
        detail = json.load(open(path))
        if detail["failed"]:
            sys.exit(f"{path}: failed queries {detail['failed']}")
        for name, p in detail["profile"].items():
            b = budget.setdefault(name, dict.fromkeys(COUNTERS, 0))
            for c in COUNTERS:
                b[c] = max(b[c], p[c])
    for name, w in WIDENED.items():
        for c in COUNTERS:
            budget[name][c] = max(budget[name][c], w[c])
    rows = [f'"{k}": {json.dumps(budget[k])}' for k in sorted(budget)]
    print("{\n" + ",\n".join(rows) + "\n}")


if __name__ == "__main__":
    main(sys.argv[1:])
