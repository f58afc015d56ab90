#!/usr/bin/env python3
"""Adjudicate bench noise mechanically: diff a graft.Bench detail file
against the per-query envelope of a committed clean run and print every
query more than FACTOR x its envelope time (the co-tenant-spike
pattern this host shows 2-5x of, documented in BASELINE.md).

Usage: check_bench.py <bench_detail.json> [factor=2.0] [envelope=BENCH_detail_r18_min3.json]

The envelope is the "queries" map (name -> seconds) of a graft.Bench
detail file; the default is the clean sf0.1 min-of-3 run of r18, which
has one entry for each of the 262 queries and no failed one.

Exit code 0 = all inside the envelope; 1 = spikes listed (re-measure
them isolated: SPARK_GRAFT_ONLY=<q> SPARK_GRAFT_REPS=3 before calling
a plan regression); 2 = no usable envelope or detail map. Queries
absent from the envelope (new since it was recorded) are listed
informationally and do not fail the check.
"""
import json
import os
import sys


def per_query(path):
    """The name -> seconds map of a graft.Bench detail file, or None."""
    detail = json.load(open(path))
    queries = detail.get("queries", detail)
    if (isinstance(queries, dict)
            and all(isinstance(v, (int, float)) for v in queries.values())):
        return queries
    return None


def main(detail_path, factor=2.0, envelope_path=None):
    if envelope_path is None:
        envelope_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH_detail_r18_min3.json")
    env = per_query(envelope_path)
    if not env:
        print(f"no per-query envelope in {envelope_path}", file=sys.stderr)
        return 2
    # a failed query (-1) in the envelope run bounds nothing
    env = {name: t for name, t in env.items() if t >= 0}
    queries = per_query(detail_path)
    if queries is None:
        # driver-captured BENCH_r*.json wraps only the summary line —
        # the per-query map lives in graft.Bench's target/bench_detail.json
        print(f"{detail_path} has no per-query map; point this at a "
              "graft.Bench detail file (target/bench_detail.json)",
              file=sys.stderr)
        return 2
    # sub-second envelope entries are fixed plan/launch overhead where
    # 2x is noise by construction; use an absolute floor as well
    floor = 1.0
    spikes, new = [], []
    for name, t in sorted(queries.items()):
        if t < 0:
            spikes.append((name, t, None))  # failed query: always flag
            continue
        if name not in env:
            new.append((name, t))
            continue
        ref = env[name]
        if t > max(factor * ref, floor):
            spikes.append((name, t, ref))
    for name, t in new:
        print(f"NEW   {name}: {t:.2f} s (no envelope entry yet)")
    for name, t, ref in spikes:
        if ref is None:
            print(f"FAIL  {name}: query failed (-1)")
        else:
            print(f"SPIKE {name}: {t:.2f} s vs envelope {ref:.2f} s "
                  f"({t / ref:.1f}x)")
    n = len(queries)
    print(f"\n{n - len(spikes) - len(new)}/{n} inside the envelope "
          f"(factor {factor}, floor {floor}s); {len(new)} new, "
          f"{len(spikes)} spiked")
    return 1 if spikes else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sys.exit(main(args[0],
                  float(args[1]) if len(args) > 1 else 2.0,
                  args[2] if len(args) > 2 else None))
