#!/usr/bin/env python3
"""Layer benchmark for the graft engine: one workload, one fresh JVM.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine from source (perfbench/build.py), runs the workload's
registry queries in a closed loop on one client thread through the engine's
public entry points (perfbench/src/PerfBench.scala), checks every query's
result against perfbench/fingerprints.json, and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, read from a traced run whose
spans go to perfbench/out/<workload>.trace.json.

The seed permutes the query order of every pass; the fixture
(perfbench/fixture/sf0.01, the TPC-H-style tables plus events, documents
and embeddings) is fixed.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
OUT_DIR = os.path.join(HERE, "out")
JVM_TIMEOUT_S = 165

# Why each workload exists is recorded in BENCHMARK.json. The lists are
# the registry queries of the two layer workloads; the MV-rewrite and
# TableModify queries are left out because they write to fixed /tmp paths
# outside the run's own directories (see perfbench/README.md).
WORKLOADS = {
    # analytic SQL: Catalyst + broadcast-join execution, build near zero
    "tpch_sql": ["agg_tpch_q1"] + [f"tpch_q{i}" for i in range(2, 23)],
    # eager build work: fixpoint rounds, checkpoints, label propagation,
    # MinHash, DDL and sequences; the native UNION ALL twins are the
    # fixpoint's control
    "iterative_build": [
        "recursive_series", "recursive_closure", "recursive_series_native",
        "recursive_closure_native", "dedup_clusters", "dedup_minhash_lsh",
        "ddl_ctas_typed", "ddl_default_virtual", "seq_next_value"],
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# The engine's own driver heap: build.sbt runs it at $SPARK_DRIVER_MEM, 8g
# when unset.
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# A run ends long before C2 has compiled the Spark code it touches. With
# the default three compiler threads on four cores the JIT competes with
# the workload and its progress, different in every run, set how fast a
# pass ran (measured: wall_s spread 16% across seeds at the default,
# 9% at two threads).
JIT_THREADS = 2


# ---- statistics ---------------------------------------------------------------

def percentile(xs, p):
    """Nearest-rank p-th percentile and the sample count it rests on.

    Refuses a percentile with fewer than ten samples beyond it (p90 needs
    at least 100 samples), since such a tail is one or two readings."""
    n = len(xs)
    beyond = n * (100 - p) / 100
    if beyond < 10:
        raise ValueError(f"p{p} needs at least {math.ceil(1000 / (100 - p))} samples, got {n}")
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * n) - 1)], n


def benchmark_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# ---- running the JVM ----------------------------------------------------------

def run_jvm(cp, args, tmp):
    """Run PerfBench in a fresh JVM with its own warehouse, Spark local and
    scratch dirs under `tmp`; returns the raw record and the spawn time."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    raw = os.path.join(tmp, "raw.json")
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-XX:CICompilerCount={JIT_THREADS}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}/tmp", f"-Dspark.local.dir={tmp}/local",
            f"-Dspark.sql.warehouse.dir={tmp}/warehouse", f"-Dderby.system.home={tmp}",
            "-cp", cp, "perfbench.PerfBench"] + args + ["--out", raw]
    log_path = os.path.join(tmp, "jvm.log")
    spawn = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(raw):
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(raw) as f:
        return json.load(f), spawn


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count()


# ---- metrics ------------------------------------------------------------------

def check_results(checks):
    """Compare each query's fingerprint with the committed one."""
    with open(FINGERPRINTS) as f:
        expected = json.load(f)
    mismatches = {}
    for name, got in checks.items():
        want = expected.get(name)
        if want is None or "error" in got or \
                (got["rows"], got["hash"]) != (want["rows"], want["hash"]):
            mismatches[name] = {"expected": want, "got": got}
    return mismatches


def end_to_end(raw, spawn):
    """The end-to-end metrics, and the samples they rest on.

    The bounded latency is the geometric mean over every timed execution
    (TPC-H's power-metric statistic): a workload mixes a few distinct
    queries, so its p50 lands on whichever query sits in the middle and
    jumps between neighbours; the p50 is kept as a sample for the record."""
    passes = [p for p in raw["passes"] if not p["traced"]]
    lat = [t for p in passes for t in p["latency_s"].values()]
    try:
        p50 = percentile(lat, 50)[0]
    except ValueError:
        p50 = None
    return {
        "setup_s": raw["setup_end_epoch_s"] - spawn,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "latency_geomean_s": statistics.geometric_mean(lat),
        "cpu_s": statistics.median(p["java_threads_cpu_s"] for p in passes),
        "retained_heap_mb": min(raw["heap_after_gc_mb"]),
    }, {"passes": len(passes), "executions": len(lat),
        "latency_p50_s": p50}


def span_tree(raw):
    """Per query id: the spans, and each span's self time."""
    by_q = {}
    for s in raw["spans"]:
        by_q.setdefault(s["qid"], []).append(s)
    out = {}
    for qid, spans in by_q.items():
        child = {}
        for s in spans:
            if s["parent"]:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in spans:
            s["self"] = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[qid] = spans
    return out


def reconcile(tree, queries, tolerance=0.05):
    """Each query's build, Catalyst, execution and the remaining leaf spans
    must cover its traced wall time to within `tolerance`. The execution
    span is the write's SQL execution as Spark's listener events time it,
    independently of the write's own timing, so write time outside
    Catalyst's phases and that execution is left uncovered. A query whose
    write QueryExecution or SQL execution was not found lacks those spans
    and is a miss too."""
    qe_found = {q["qid"]: q["write_qe_found"] and q["write_exec_found"] for q in queries}
    misses = []
    for qid, spans in tree.items():
        root = next(s for s in spans if s["name"] == "query")
        wall = root["end"] - root["start"]
        covered = sum(s["end"] - s["start"] for s in spans if s["parent"] == root["id"]) \
            - sum(s["self"] for s in spans if s["name"] == "write")
        if not qe_found.get(qid, False):
            misses.append({"qid": qid, "wall_s": wall, "covered_s": covered,
                           "reason": "write QueryExecution or SQL execution not found"})
        elif wall > 0 and abs(covered - wall) / wall > tolerance:
            misses.append({"qid": qid, "wall_s": wall, "covered_s": covered,
                           "reason": f"covers {covered / wall:.1%} of the wall time"})
    return misses


PER_LAYER_COUNTERS = {
    "build.jobs": ("build", "jobs"), "build.tasks": ("build", "tasks"),
    "execution.jobs": ("execution", "jobs"), "execution.stages": ("execution", "stages"),
    "execution.tasks": ("execution", "tasks"),
    "execution.failed_tasks": ("execution", "failed_tasks"),
    "execution.task_run_s": ("execution", "task_run_s"),
    "execution.task_cpu_s": ("execution", "task_cpu_s"),
    "execution.task_gc_s": ("execution", "task_gc_s"),
    "execution.input_bytes": ("execution", "input_bytes"),
    "execution.output_bytes": ("execution", "output_bytes"),
    "execution.shuffle_read_bytes": ("execution", "shuffle_read_bytes"),
    "execution.shuffle_write_bytes": ("execution", "shuffle_write_bytes"),
    "execution.spill_bytes": ("execution", "spill_bytes"),
}
# build.self_s sums the build time of every module. `plans` has no query
# in either workload (its MV-rewrite queries write outside the run's
# directories), so its build time stays in the artifact's layer summary.
SPAN_SELF = {
    "engine.self_s": "build.engine", "operators.build_s": "build.operators",
    "pipeline.build_s": "build.pipeline",
    "catalyst.parse_s": "catalyst.parse", "catalyst.analysis_s": "catalyst.analysis",
    "catalyst.optimization_s": "catalyst.optimization",
    "catalyst.planning_s": "catalyst.planning", "execution.wall_s": "execution",
    "checkpoints.release_s": "checkpoints.release",
}


def per_layer(raw, tree, cpus):
    """Per traced pass sums, then the median over traced passes."""
    traced = [p for p in raw["passes"] if p["traced"]]
    untraced = [p for p in raw["passes"] if not p["traced"]]
    per_pass = {p["index"]: {k: 0.0 for k in
                             list(SPAN_SELF) + list(PER_LAYER_COUNTERS) +
                             ["build.self_s", "execution.peak_mem_bytes",
                              "checkpoints.cached_bytes"]}
                for p in traced}
    for qid, spans in tree.items():
        acc = per_pass[int(qid.split(":")[0])]
        for metric, name in SPAN_SELF.items():
            acc[metric] += sum(s["self"] for s in spans if s["name"] == name)
        acc["build.self_s"] += sum(s["self"] for s in spans if s["name"].startswith("build."))
    for q in raw["queries"]:
        acc = per_pass[int(q["qid"].split(":")[0])]
        for metric, (phase, field) in PER_LAYER_COUNTERS.items():
            acc[metric] += q[phase][field]
        acc["execution.peak_mem_bytes"] = max(acc["execution.peak_mem_bytes"],
                                              q["execution"]["peak_mem_bytes"])
        acc["checkpoints.cached_bytes"] += q["cached_bytes"]
    for p in traced:
        acc = per_pass[p["index"]]
        acc["jvm.gc_s"] = p["gc_s"]
        acc["execution.task_parallelism"] = \
            acc["execution.task_run_s"] / (acc["execution.wall_s"] * cpus) \
            if acc["execution.wall_s"] > 0 else 0.0
    metrics = {k: statistics.median(acc[k] for acc in per_pass.values())
               for k in next(iter(per_pass.values()))}
    metrics["trace.overhead_ratio"] = statistics.median(p["wall_s"] for p in traced) / \
        statistics.median(p["wall_s"] for p in untraced)
    return metrics


def layer_summary(tree, n_passes):
    """Self time per span name, per traced pass (mean over passes)."""
    out = {}
    for spans in tree.values():
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["self"] / n_passes
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


# ---- main ---------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = benchmark_spec()
    if not os.path.isdir(FIXTURE):
        raise SystemExit(f"perfbench: fixture missing: {FIXTURE}")
    cp = build.build()
    cpus = nproc()
    tmp = os.path.join(build.BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        raw, spawn = run_jvm(cp, [
            "--fixture", FIXTURE, "--queries", ",".join(WORKLOADS[a.workload]),
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(cpus)], tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    mismatches = check_results(raw["checks"])
    # the check pass and every timed pass
    attempted = (1 + len(raw["passes"])) * len(WORKLOADS[a.workload])
    failed = len(mismatches) + sum(p["failed"] for p in raw["passes"])
    e2e, samples = end_to_end(raw, spawn)
    host = dict(raw["host"], nproc=cpus, workload=a.workload, seconds=a.seconds)
    record = {"host": host, "samples": samples, "end_to_end": e2e,
              "mismatches": mismatches, "passes": raw["passes"]}
    if a.trace:
        tree = span_tree(raw)
        traced = [p for p in raw["passes"] if p["traced"]]
        layers = per_layer(raw, tree, cpus)
        misses = reconcile(tree, raw["queries"])
        for m in misses:
            print(f"perfbench: reconciliation miss {m}", file=sys.stderr)
        record.update({
            "per_layer": layers,
            "layer_self_s_per_pass": layer_summary(tree, len(traced)),
            "reconciliation": {"tolerance": 0.05, "queries": len(tree), "misses": misses},
            "unattributed_jobs": raw["unattributed_jobs"],
            "queries": raw["queries"],
            "spans": [s for spans in tree.values() for s in spans]})
        wanted = spec["per_layer"]
        values = layers
    else:
        wanted = spec["end_to_end"]
        values = e2e
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"{a.workload}.{'trace' if a.trace else 'run'}.json"), "w") as f:
        json.dump(record, f, indent=1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
