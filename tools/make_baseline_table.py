#!/usr/bin/env python3
"""Emit the BASELINE.md per-query markdown table from a paired
same-session measurement: a graft.Bench detail file (ideally
SPARK_GRAFT_REPS=3 min-of-3) and a bench_duckdb.py output file.

Usage: make_baseline_table.py <spark_bench_detail.json> <duck.json>

Prints the table (sorted worst ratio first, matching the existing
layout) plus the comparable-set totals, ready to paste into
BASELINE.md. The jobs and exchanges columns come from the detail
file's `profile` map ("-" for a detail file written before it had
one). Queries present on only one side are listed after the
table as a reminder (rows-only queries have no DuckDB leg by design).
"""
import json
import sys


def main(spark_path, duck_path):
    detail = json.load(open(spark_path))
    spark, profile = detail["queries"], detail.get("profile", {})
    duck = json.load(open(duck_path))["queries"]

    def counts(k):
        p = profile.get(k)
        return f"{p['jobs']} | {p['exchanges']}" if p else "- | -"

    both = sorted((k for k in spark if k in duck and spark[k] >= 0
                   and duck[k] >= 0),
                  key=lambda k: spark[k] / max(duck[k], 1e-9), reverse=True)
    print("| query | spark s | duckdb s | spark/duck | jobs | exchanges |")
    print("|---|---|---|---|---|---|")
    for k in both:
        r = spark[k] / max(duck[k], 1e-9)
        print(f"| {k} | {spark[k]:.2f} | {duck[k]:.3f} | {r:.1f}x "
              f"| {counts(k)} |")
    ts, td = sum(spark[k] for k in both), sum(duck[k] for k in both)
    print(f"\ncomparable set: {len(both)} queries, "
          f"spark {ts:.1f} s vs duckdb {td:.1f} s = {ts / td:.2f}x")
    only_s = sorted(k for k in spark if k not in duck)
    only_d = sorted(k for k in duck if k not in spark)
    if only_s:
        # emit these as table rows too, so check_bench.py has an
        # envelope entry for every query in a bench run
        print("\nrows-only queries (no DuckDB leg; spark envelope only):\n")
        print("| query | spark s | duckdb s | spark/duck | jobs | exchanges |")
        print("|---|---|---|---|---|---|")
        for k in only_s:
            print(f"| {k} | {spark[k]:.2f} | - | - | {counts(k)} |")
    if only_d:
        print(f"duck-only: {', '.join(only_d)}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
