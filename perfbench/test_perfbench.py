#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

Usage (from the repository root): python3 perfbench/test_perfbench.py
The last test compiles the engine and starts one JVM (about a minute).
"""
import json
import os
import re
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

COUNTERS = {"jobs": 2, "stages": 3, "tasks": 4, "failed_tasks": 0, "task_run_s": 0.4,
            "task_cpu_s": 0.3, "task_gc_s": 0.01, "input_bytes": 10, "output_bytes": 0,
            "shuffle_read_bytes": 5, "shuffle_write_bytes": 5, "spill_bytes": 0,
            "peak_mem_bytes": 7}


def span(qid, parent, name, a, b):
    sid = (parent or qid) + "/" + name
    return {"id": sid, "name": name, "start": a, "end": b, "parent": parent, "qid": qid}


def synthetic_raw():
    """A two-pass record (one untraced, one traced) with one traced query."""
    qid = "1:q"
    root = span(qid, None, "query", 0.0, 1.0)
    build = span(qid, root["id"], "build.operators", 0.0, 0.3)
    write = span(qid, root["id"], "write", 0.3, 0.9)
    spans = [root, build, write,
             span(qid, build["id"], "catalyst.analysis", 0.1, 0.2),
             span(qid, write["id"], "catalyst.optimization", 0.3, 0.35),
             span(qid, write["id"], "catalyst.planning", 0.35, 0.4),
             span(qid, write["id"], "execution", 0.4, 0.9),
             span(qid, root["id"], "trace.census", 0.9, 0.95),
             span(qid, root["id"], "checkpoints.release", 0.95, 1.0)]
    passes = [{"index": 0, "traced": False, "wall_s": 1.0, "process_cpu_s": 2.0, "java_threads_cpu_s": 1.5, "jit_s": 0.5, "gc_s": 0.0,
               "failed": 0, "latency_s": {"q": 0.9}},
              {"index": 1, "traced": True, "wall_s": 1.1, "process_cpu_s": 2.1, "java_threads_cpu_s": 2.0, "jit_s": 0.1, "gc_s": 0.01,
               "failed": 0, "latency_s": {"q": 1.0}}]
    queries = [{"qid": qid, "query": "q", "module": "operators", "write_qe_found": True,
                "write_exec_found": True,
                "cached_bytes": 100, "build": dict(COUNTERS), "execution": dict(COUNTERS),
                "checkpoints": dict(COUNTERS)}]
    return {"setup_end_epoch_s": 12.0, "passes": passes, "heap_after_gc_mb": [81.0, 80.0, 80.5],
            "queries": queries, "spans": spans, "unattributed_jobs": 0}


class ContractTest(unittest.TestCase):
    spec = run.benchmark_spec()

    def test_names_are_well_formed_and_unique(self):
        names = [w["name"] for w in self.spec["workloads"]] + \
            [m["name"] for m in self.spec["end_to_end"] + self.spec["per_layer"]]
        for n in names:
            self.assertRegex(n, NAME)
            self.assertTrue(NAME.fullmatch(n), n)
        self.assertEqual(len(names), len(set(names)))

    def test_workloads_match_the_harness(self):
        self.assertEqual({w["name"] for w in self.spec["workloads"]}, set(run.WORKLOADS))

    def test_printed_end_to_end_names_are_the_spec(self):
        e2e, samples = run.end_to_end(synthetic_raw(), spawn=0.0)
        self.assertEqual(set(e2e), {m["name"] for m in self.spec["end_to_end"]})
        self.assertEqual(samples["executions"], 1)
        self.assertAlmostEqual(e2e["cpu_s"], 1.5)
        self.assertEqual(e2e["retained_heap_mb"], 80.0)

    def test_printed_per_layer_names_are_the_spec(self):
        raw = synthetic_raw()
        layers = run.per_layer(raw, run.span_tree(raw), cpus=4)
        self.assertEqual(set(layers), {m["name"] for m in self.spec["per_layer"]})
        self.assertAlmostEqual(layers["catalyst.analysis_s"], 0.1)
        self.assertAlmostEqual(layers["operators.build_s"], 0.2)
        self.assertAlmostEqual(layers["build.self_s"], 0.2)
        self.assertAlmostEqual(layers["execution.wall_s"], 0.5)
        self.assertAlmostEqual(layers["execution.task_parallelism"], 0.4 / (0.5 * 4))
        self.assertAlmostEqual(layers["trace.overhead_ratio"], 1.1)


class PercentileTest(unittest.TestCase):
    def test_reports_sample_count(self):
        self.assertEqual(run.percentile(list(range(1, 101)), 90), (90, 100))
        self.assertEqual(run.percentile(list(range(1, 51)), 50), (25, 50))

    def test_refuses_p90_below_100_samples(self):
        with self.assertRaises(ValueError):
            run.percentile(list(range(99)), 90)


class ReconcileTest(unittest.TestCase):
    def test_covered_query_passes(self):
        raw = synthetic_raw()
        self.assertEqual(run.reconcile(run.span_tree(raw), raw["queries"]), [])

    def test_unattributed_write_time_is_reported(self):
        raw = synthetic_raw()
        for s in raw["spans"]:
            if s["name"] == "execution":
                s["start"] = 0.5  # 0.1 s of the 1 s query now belongs to no layer
        misses = run.reconcile(run.span_tree(raw), raw["queries"])
        self.assertEqual([m["qid"] for m in misses], ["1:q"])

    def test_missing_write_query_execution_is_a_miss(self):
        raw = synthetic_raw()
        raw["queries"][0]["write_qe_found"] = False
        misses = run.reconcile(run.span_tree(raw), raw["queries"])
        self.assertEqual([m["reason"] for m in misses], ["write QueryExecution or SQL execution not found"])


class ResolveTest(unittest.TestCase):
    def test_workload_queries_resolve_in_the_registry(self):
        cp = run.build.build()
        names = [q for qs in run.WORKLOADS.values() for q in qs]
        out = subprocess.run(["java", "-cp", cp, "perfbench.PerfBench", "--mode", "resolve",
                              "--queries", ",".join(names)],
                             capture_output=True, text=True, timeout=120)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        resolved = dict(line.split() for line in out.stdout.splitlines())
        self.assertEqual(set(resolved), set(names))
        with open(run.FINGERPRINTS) as f:
            self.assertEqual(set(json.load(f)), set(names))


if __name__ == "__main__":
    unittest.main()
