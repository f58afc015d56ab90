#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and
the benchmark runner from source into ``.bench_build/``; every run
generates its inputs from ``--seed`` under ``.bench_work/<workload>/``
(emptied first), runs the workload in one JVM against ``local[4]`` with
one client thread, checks every output, and prints one JSON object as
the last line of stdout. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced pass and the tracing
overhead against the untraced pass after it. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

STRUCTURE_QUERIES = [
    "q_filter_eq", "q_filter_in", "q_filter_not", "q_project_exclude",
    "q_cast_types", "q_explode_split", "q_collapse_group",
    "q_derive_concat_key", "q_recode_class", "q_scaled_ratio",
    "q_rsa_methods", "q_annotation_agg", "q_sifts_wide", "q_sifts_residues",
    "q_table_merger", "q_filter_structures", "q_centroid", "q_agg_first",
    "q_seq_concat", "q_seq_mismatch", "q_mmcif_fields", "q_mmcif_oper",
    "q_structure_pipeline", "q_dssp_full_chain", "q_range_join_contacts",
    "q_knn_contacts", "q_validation_roundtrip", "q_gff_roundtrip",
    "q_fasta_roundtrip",
]
CORPUS_QUERIES = ["q_training_export", "q_crawl_prepare_full"]

# Input sizes per workload. ``pass_s`` is the nominal length of one pass
# of the operation list: a run makes round(seconds / pass_s) passes, at
# least one, so every run does the same whole passes on every commit.
WORKLOADS = {
    "structure_interactive": dict(
        kind="registry", queries=STRUCTURE_QUERIES, sf=0.002, warm_sf=0.0005,
        docs=500, pass_s=10.0),
    "corpus_export": dict(
        kind="registry", queries=CORPUS_QUERIES, sf=0.001, warm_sf=0.001,
        docs=1000, near_dup=0.05, contaminated=0.02, pass_s=14.0),
    "stream_ingest": dict(
        kind="stream", base_docs=500, batch_docs=100, warm_batches=1,
        pass_s=15.0),
}

JVM_OPTS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # long enough call sites that the innermost graft frame is kept
    "-Dspark.callstack.depth=64",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

# A run must end within 180 s of its start, its build aside. The JVM
# gets what is left of this budget, so a slower program still reports
# its figures as long as the run can end in time.
RUN_BUDGET_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def make_inputs(cfg, seed, seconds, work, trace):
    """Generate the run's inputs and its plan: ``(pass, name, input)`` rows,
    pass 0 being the untimed warm-up."""
    import numpy as np
    data = f"{work}/data"
    if cfg["kind"] == "registry":
        # the warm-up pass reads smaller inputs drawn from another seed:
        # first executions are compile-bound, so the size barely matters
        warm = f"{work}/warm"
        for d, s, sf in ((data, seed, cfg["sf"]), (warm, seed + 1, cfg["warm_sf"])):
            gen.tables(d, s, sf, cfg["docs"],
                       near_dup=cfg.get("near_dup", 0.05),
                       contaminated=cfg.get("contaminated", 0.0))
        rng = np.random.Generator(np.random.PCG64(seed))
        plan = [(0, q, warm) for q in cfg["queries"]]
        for p in range(1, n_passes(cfg, seconds, trace) + 1):
            plan += [(p, q, data) for q in rng.permutation(cfg["queries"])]
        return plan
    # a stream pass lands one batch of each profile, in seeded order
    rng = np.random.Generator(np.random.PCG64(seed))
    names = sorted(gen.PROFILES)
    warm = [names[i % len(names)] for i in range(cfg["warm_batches"])]
    passes = [list(rng.permutation(names))
              for _ in range(n_passes(cfg, seconds, trace))]
    paths = gen.stream_inputs(data, seed, cfg["base_docs"],
                              warm + [b for p in passes for b in p],
                              cfg["batch_docs"])
    plan = [(0, b, paths[i]) for i, b in enumerate(warm)]
    k = len(warm)
    for p, batches in enumerate(passes):
        for b in batches:
            plan.append((p + 1, b, paths[k]))
            k += 1
    return plan


def n_passes(cfg, seconds, trace):
    # a traced run is two passes: traced, then untraced
    return 2 if trace else max(1, round(seconds / cfg["pass_s"]))


def run_jvm(classes, jars, name, work, trace, corrupt, timeout):
    cp = os.pathsep.join([classes, f"{jars}/*"])
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}",
           f"-Dperfbench.roundtrip={work}/roundtrip", "-cp", cp,
           "perfbench.Runner", name, f"{work}/plan.tsv", work,
           str(trace), "1" if corrupt else "0"]
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"runner exceeded {timeout:.0f}s; see {work}/jvm.log")
    if code != 0:
        tail = open(f"{work}/jvm.log").read()[-3000:]
        fail(f"runner exited {code}:\n{tail}")
    return json.load(open(f"{work}/result.json"))


def quantile(values, q):
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def layer_metrics(plan, res):
    """Per-layer metrics of the traced pass, per operation."""
    traced = [p for p in res["passes"] if p["traced"]][0]
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    lm = traced["layer"]
    n = len(traced["ops"])
    g = lambda k: lm.get(k, 0.0)  # noqa: E731
    out = {k: g(k) / n for k in (
        "sources.jobs", "sources.job_s", "operators.jobs", "operators.job_s",
        "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
        "plan.sql_executions", "plan.exchanges", "plan.reused_exchanges",
        "sched.jobs", "sched.stages", "sched.tasks", "sched.task_overhead_s",
        "driver.only_s", "exec.run_s", "exec.cpu_s",
        "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
        "shuffle.spill_bytes", "scan.bytes_read", "scan.records_read",
        "streaming.batches", "streaming.commit_s", "sinks.bytes_written",
        "sinks.files_written", "jvm.gc_s", "jvm.jit_s")}
    out["sched.slot_busy_ratio"] = g("sched.task_s") / (
        g("sched.slots") * traced["wall_s"])
    landed = sum(os.path.getsize(row[2]) for row in plan
                 if row[0] == traced["pass"] and os.path.isfile(str(row[2])))
    out["sinks.write_amp"] = g("sinks.bytes_written") / landed if landed else 0.0
    for k in ("streaming.index_bytes", "cache.persisted_rdds_delta",
              "cache.storage_bytes_delta"):
        out[k] = g(k)
    # self time per span: a span minus the part its children cover
    kids = {}
    for sp in res["spans"]:
        kids.setdefault(sp["parent"], []).append(sp)
    by_kind = {k: 0.0 for k in ("op", "call", "action", "land")}
    by_name = {}
    for sp in res["spans"]:
        covered = sum(c["end_ns"] - c["start_ns"] for c in kids.get(sp["id"], []))
        self_s = (sp["end_ns"] - sp["start_ns"] - covered) / 1e9 / n
        by_kind[sp["kind"]] += self_s
        name = "op" if sp["kind"] == "op" else sp["name"]
        by_name[name] = by_name.get(name, 0.0) + self_s
    for k, v in by_kind.items():
        out[f"span.{k}.self_s"] = v
    # calls have no child spans, so a call's self time is its time
    out["graft.build_s"] = by_kind["call"]
    out["streaming.gate_s"] = (by_name.get("QualityGate.qualityGate", 0.0) +
                               by_name.get("IngestGate.nearDupGate", 0.0))
    out["operators.merge_s"] = by_name.get("MergeTable.merge", 0.0)
    out["trace.overhead_s"] = traced["wall_s"] - untraced[0]
    return out, by_name


LAYER_UNITS = {
    "jobs": "count/op", "stages": "count/op", "tasks": "count/op",
    "sql_executions": "count/op", "exchanges": "count/op",
    "reused_exchanges": "count/op", "batches": "count/op",
    "files_written": "count/op", "records_read": "rows/op",
    "slot_busy_ratio": "ratio", "write_amp": "ratio",
    "index_bytes": "B", "persisted_rdds_delta": "count",
    "storage_bytes_delta": "B", "overhead_s": "s",
}


def layer_unit(name):
    leaf = name.split(".")[-1]
    if name.startswith("span."):
        return "s/op"
    if leaf in LAYER_UNITS:
        return LAYER_UNITS[leaf]
    return "B/op" if "bytes" in leaf else "s/op"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: corrupt every expected output")
    ap.add_argument("--sizes", help="JSON overrides of the workload's input "
                    "sizes (the self-test runs at sf0.001)")
    args = ap.parse_args()
    root = os.getcwd()
    cfg = dict(WORKLOADS[args.workload])
    if args.sizes:
        cfg.update(json.loads(args.sizes))

    classes, jars = build.ensure(root)
    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.time()
    plan = make_inputs(cfg, args.seed, args.seconds, work, args.trace)
    with open(f"{work}/plan.tsv", "w") as f:
        f.writelines("\t".join(map(str, row)) + "\n" for row in plan)
    gen_s = time.time() - t0
    launch_ms = time.time() * 1000
    # the oracle check takes a few seconds after the JVM ends
    res = run_jvm(classes, jars, args.workload, work, args.trace, args.corrupt,
                  timeout=RUN_BUDGET_S - 10 - (time.time() - t0))

    # every operation is checked; the end-to-end timings come from the
    # untraced passes
    passes = [p for p in res["passes"] if not p["traced"]]
    ops = [o for p in res["passes"] for o in p["ops"]]
    problems = {o["index"]: o["error"] for o in ops if o["error"]}
    if cfg["kind"] == "registry":
        import check  # needs the repo's tools/compare_oracle.py
        problems.update(check.check_registry(
            f"{work}/data", f"{work}/oracle_sql.json",
            [(o["index"], o["name"]) for o in ops if o["index"] not in problems],
            f"{work}/out", corrupt=args.corrupt))
    for i, p in sorted(problems.items()):
        print(f"FAILED op {i}: {p[:500]}")
    attempted, failed = len(ops), len(problems)

    walls = [p["wall_s"] for p in passes]
    lat = [o["latency_s"] for p in passes for o in p["ops"]]
    if args.trace:
        layers, spans = layer_metrics(plan, res)
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(layers.items())}
        print("spans " + json.dumps(spans))
    else:
        metrics = {
            "setup_s": {"value": gen_s + (res["ready_ms"] - launch_ms) / 1e3,
                        "unit": "s"},
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "ops_per_s": {"value": len(lat) / sum(walls), "unit": "1/s"},
            "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "heap_live_mb": {"value": res["heap_live_mb"], "unit": "MB"},
        }
    # metrics that exist only on some workloads or some run lengths; they
    # are printed here, outside the result line every workload shares
    extra = {"failed_ratio": failed / attempted, "ops": attempted,
             "passes": len(passes), "heap_peak_mb": res["heap_peak_mb"]}
    if len(lat) >= 100:
        extra["latency_p90_s"] = quantile(lat, 90)
    if args.workload == "corpus_export":
        extra["docs_per_s"] = cfg["docs"] * len(lat) / sum(walls)
    if args.workload == "stream_ingest":
        extra["docs_per_s"] = cfg["batch_docs"] * len(lat) / sum(walls)
    print("extra " + json.dumps(extra))
    shutil.rmtree(f"{work}/out", ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
