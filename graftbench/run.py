#!/usr/bin/env python3
"""graft benchmark: seeded inputs -> closed-loop passes over
SparkEntry.queries in one JVM -> DuckDB oracle check -> one JSON line.

    python3 graftbench/run.py --workload interval --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
runner with sbt (graftbench/harness); inputs are cached per (workload,
seed) under .bench_build/graftbench/data. See graftbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

import gen
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))

WORK = os.path.join(".bench_build", "graftbench")
GATE_BYTES = 32 << 20
RUN_LIMIT_S = 150
CORES = len(os.sched_getaffinity(0))

WORKLOADS = {
    # cumsum, overlap, count, subtract, join-first and sweep join on 60k
    # lineitem rows (about 5 MiB of leaf bytes, between the 4 MiB pick
    # gate and the 32 MiB salted gate); the queries are short, so fixed
    # per-query costs (sample jobs, planning, codegen) dominate
    "interval": {
        "inputs": {"orders": 15000},
        "queries": ["q09_cumsum", "q12_overlap", "q16_count", "q17_subtract",
                    "q52_join_first", "q95_sweep_join"],
    },
    # batch near-dup pairs, dedup clusters, paragraph dedup and semantic
    # dedup over a skewed corpus; never enters the interval-join machinery
    "curation": {
        "inputs": {"docs": 1000, "vecs": 2000},
        "queries": ["q24_lsh_jaccard", "q105_dedup_clusters",
                    "q125_paragraph_dedup", "q132_semdedup", "q141_semdedup_text"],
    },
    # Not in BENCHMARK.json (run it by name): the size-gated sweeps on 8x
    # the rows, about 36 MiB of leaf bytes with one chromosome holding 2/3
    # of them, so natural sizing takes the salted branch. Interval joins
    # are left out here because their DuckDB oracles take minutes at
    # this size.
    "interval_big": {
        "inputs": {"orders": 120000, "hot_share": 2 / 3},
        "queries": ["q09_cumsum", "q11_rle"],
    },
}

# End-to-end metrics, printed with --trace 0.
E2E = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
       ("query_s.p50", "s"), ("query_s.p90", "s"), ("ok_frac", "ratio"),
       ("shuffle_mb", "MB"), ("heap_peak_mb", "MB")]

JOB_FILES = ["Tables", "Sizing", "RangeJoin", "IntervalJoinRewrite", "IntervalSweepJoinExec",
             "BinaryOps", "Dedup", "SemDedup", "Similarity"]

# Per-layer metrics, printed with --trace 1: medians over the traced warm
# passes, except codegen.compile_ms and codegen.classes (the cold pass).
LAYER = ([("build.ms", "ms"), ("plan.ms", "ms"), ("exec.ms", "ms"),
          ("build.jobs", "count"), ("plan.jobs", "count"), ("exec.jobs", "count")] +
         [(f"jobs.{f}.{k}", u) for f in JOB_FILES + ["other"]
          for k, u in (("n", "count"), ("ms", "ms"))] +
         [("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
          ("plan.planning_ms", "ms"), ("plan.exchanges", "count"),
          ("plan.sweep_joins", "count"), ("plan.bnlj", "count"),
          ("plan.cartesian", "count"),
          ("codegen.compile_ms", "ms"), ("codegen.classes", "count"),
          ("codegen.warm_compile_ms", "ms"), ("codegen.warm_classes", "count"),
          ("exec.stages", "count"), ("exec.tasks", "count"), ("exec.task_ms", "ms"),
          ("exec.cpu_ms", "ms"), ("exec.shuffle_write_mb", "MB"),
          ("exec.shuffle_read_mb", "MB"), ("exec.fetch_wait_ms", "ms"),
          ("exec.spill_mb", "MB"), ("exec.slot_util", "ratio"),
          ("exec.task_skew", "ratio"), ("exec.failed_tasks", "count"),
          ("exec.gc_ms", "ms"), ("op.IntervalSweepJoinExec.numOutputRows", "count"),
          ("cache.block_mb", "MB"), ("cache.rdds_left", "count"),
          ("jvm.gc_ms", "ms"),
          ("trace.warm_pass_s", "s"), ("trace.untraced_warm_pass_s", "s"),
          ("trace.overhead_s", "s"), ("trace.span_gap_ms", "ms"),
          ("input.leaf_mb", "MB"), ("input.max_leaf_mb", "MB"),
          ("input.gate_mb", "MB")])


def die(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    return sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))


def build():
    """Compile graft and the runner with sbt unless nothing changed since
    the last build; return the runtime classpath."""
    tracked = (["build.sbt"] + sorted(glob.glob("project/*.sbt")) +
               sorted(glob.glob("project/*.properties")) + sources() +
               sorted(glob.glob(os.path.join(HERE, "harness", "*.sbt"))) +
               sorted(glob.glob(os.path.join(HERE, "harness", "project", "*.properties"))) +
               sorted(glob.glob(os.path.join(HERE, "harness", "src", "**", "*.scala"),
                                recursive=True)))
    h = hashlib.sha256()
    for p in tracked:
        with open(p, "rb") as f:
            h.update(p.encode() + b"\0" + hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            got = f.read().split("\n", 1)
        if got[0] == stamp:
            return got[1].strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export harness/Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    return cp


def inputs(name, seed):
    d = os.path.join(WORK, "data", f"{name}-{seed}")
    marker = os.path.join(d, "leaf_bytes.json")
    if not os.path.exists(marker):
        tmp = d + ".tmp"
        subprocess.run(["rm", "-rf", tmp], check=True)
        gen.generate(tmp, WORKLOADS[name]["inputs"], seed)
        subprocess.run(["rm", "-rf", d], check=True)
        os.rename(tmp, d)
    with open(marker) as f:
        return d, json.load(f)


def run_jvm(cp, data, out, queries, seconds, trace, deadline):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    srcs = ",".join(sorted({os.path.basename(s)[:-6] for s in sources()}))
    cmd = (["java"] + opens +
           ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.abspath(tmp)}", "-cp", cp, "graftbench.Harness",
            f"data={os.path.abspath(data)}", f"out={os.path.abspath(out)}",
            f"queries={','.join(queries)}", f"seconds={seconds}",
            f"trace={trace}", f"cores={CORES}", f"sources={srcs}"])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"runner exceeded {RUN_LIMIT_S} s; see {out}/jvm.log")
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"runner exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def span_gap_ms(path, passes):
    """Per pass in `passes`: each query span minus its build/plan/exec
    child spans, summed over the pass (0 when the phases tile the query)."""
    spans = [json.loads(x) for x in open(path)]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    gaps = []
    for p in spans:
        if p["name"] == "warm" and p["pass"] in passes:
            gaps.append(sum((q["end_ms"] - q["start_ms"]) -
                            sum(c["end_ms"] - c["start_ms"] for c in kids.get(q["id"], []))
                            for q in kids.get(p["id"], [])))
    return gaps


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    if not (os.path.exists("build.sbt") and
            os.path.exists("src/main/scala/graft/SparkEntry.scala")):
        die("run from the root of a graft checkout (build.sbt and src/main not found)")
    wl = WORKLOADS[a.workload]

    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    data, leaf = inputs(a.workload, a.seed)
    out = os.path.join(WORK, "run", a.workload)
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    r = run_jvm(cp, data, out, wl["queries"], a.seconds, a.trace, deadline)
    mismatch = oracle.check(data, os.path.join(out, "results"), r["oracle"],
                            r["cold_err"], os.path.abspath(os.path.join(out, "tmp")))

    runs = r["runs"]
    bad = set(mismatch)
    failed = sum(1 for x in runs if x["err"] or x["q"] in bad)
    for x in runs:
        if x["err"]:
            print(f"error {x['q']} (pass {x['pass']}): {x['err']}")
    for q, why in sorted(mismatch.items()):
        print(f"oracle mismatch {q}: {why}")

    def qs(x):
        return x["build_s"] + x["plan_s"] + x["exec_s"]

    def pass_walls(pred):
        w = {}
        for x in runs:
            if pred(x):
                w[x["pass"]] = w.get(x["pass"], 0.0) + qs(x)
        return [w[k] for k in sorted(w)]

    warm = lambda x: x["kind"] == "warm" and not x["traced"]  # noqa: E731
    cold = pass_walls(lambda x: x["kind"] == "cold")
    warm_walls = pass_walls(warm)
    samples = [qs(x) for x in runs if warm(x)]
    n = len(samples)
    e2e = {
        "setup_s": statistics.median(r["setup_s"]),
        "cold_pass_s": cold[0],
        "warm_pass_s": statistics.median(warm_walls),
        "query_s.p50": statistics.median(samples),
        "query_s.p90": statistics.quantiles(samples, n=10, method="inclusive")[-1],
        "ok_frac": 1.0 - failed / len(runs),
        "shuffle_mb": r["warm_shuffle_bytes"] / 1048576.0 / len(warm_walls),
        "heap_peak_mb": r["heap_peak_mb"],
    }
    above90 = sum(1 for s in samples if s > e2e["query_s.p90"])
    supported = max(0, int(100 * (n - 10) / n)) if n > 10 else 0

    gate_mb = GATE_BYTES / 1048576.0
    print(f"workload {a.workload} seed {a.seed}: {len(wl['queries'])} queries, "
          f"{len(cold)} cold + 1 warm-up + {len(warm_walls)} measured warm untraced "
          f"passes, {CORES} cores")
    for t, b in sorted(leaf.items()):
        side = "above" if b > GATE_BYTES else "below"
        print(f"  input {t}: {b / 1048576.0:.2f} MiB leaf bytes ({side} the "
              f"{gate_mb:.0f} MiB salted gate)")
    for name, unit in E2E:
        note = ""
        if name == "query_s.p90":
            note = (f"  (n={n}, {above90} above p90"
                    + ("" if above90 >= 10 else f"; highest percentile with 10 "
                       f"samples above it: p{supported}") + ")")
        elif name == "query_s.p50":
            note = f"  (n={n})"
        elif name == "warm_pass_s":
            note = f"  (n={len(warm_walls)} passes)"
        elif name == "setup_s":
            note = f"  (median of {len(r['setup_s'])} set-ups)"
        print(f"  {name:14s} {e2e[name]:12.4f} {unit}{note}")
    print(f"  oracle: {len(wl['queries']) - len(mismatch)}/{len(wl['queries'])} "
          f"queries match; {failed}/{len(runs)} executions failed")

    if a.trace:
        tp = r["traced_passes"]
        warm_t = [p for p in tp if p["pass"] > 0]
        cold_t = [p for p in tp if p["pass"] == 0]
        for p in warm_t:
            for k in [k for k in p if k.startswith("jobs.")]:
                f, kind = k[5:].rsplit(".", 1)
                if f not in JOB_FILES:
                    p[f"jobs.other.{kind}"] = p.get(f"jobs.other.{kind}", 0.0) + p.pop(k)
        lay = {}
        for name, _ in LAYER:
            vals = [p.get(name, 0.0) for p in warm_t]
            lay[name] = statistics.median(vals) if vals else 0.0
        for k in ("build", "plan", "exec"):
            lay[f"{k}.ms"] = statistics.median(
                sum(x[f"{k}_s"] for x in runs if x["pass"] == p["pass"]) * 1e3
                for p in warm_t)
        lay["codegen.warm_compile_ms"] = lay["codegen.compile_ms"]
        lay["codegen.warm_classes"] = lay["codegen.classes"]
        lay["codegen.compile_ms"] = cold_t[0].get("codegen.compile_ms", 0.0)
        lay["codegen.classes"] = cold_t[0].get("codegen.classes", 0.0)
        traced = statistics.median(p["pass_s"] for p in warm_t)
        lay["trace.warm_pass_s"] = traced
        lay["trace.untraced_warm_pass_s"] = e2e["warm_pass_s"]
        lay["trace.overhead_s"] = traced - e2e["warm_pass_s"]
        gaps = span_gap_ms(os.path.join(out, "spans.jsonl"), {p["pass"] for p in warm_t})
        lay["trace.span_gap_ms"] = statistics.median(gaps) if gaps else 0.0
        lay["input.leaf_mb"] = sum(leaf.values()) / 1048576.0
        lay["input.max_leaf_mb"] = max(leaf.values()) / 1048576.0
        lay["input.gate_mb"] = gate_mb
        for name, unit in LAYER:
            print(f"  {name:40s} {lay[name]:14.4f} {unit}")
        print(f"  spans: {out}/spans.jsonl")
        metrics = {k: {"value": lay[k], "unit": u} for k, u in LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}

    print(json.dumps({"correct": failed == 0, "attempted": len(runs),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
