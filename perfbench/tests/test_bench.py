"""Tests of the benchmark's own rules (bench.py) and of the agreement
between BENCHMARK.json and workloads.json. No JVM needed:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import bench  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def op(pass_, name, ms, ok=True, kind="query", digest="d"):
    return {"pass": pass_, "kind": kind, "name": name, "ms": ms, "ok": ok,
            "error": None if ok else "boom", "digest": digest if ok else None}


def raw(ops, passes=((0, False), (1, False)), checks=(), layers=None):
    return {"setup": {"session_s": 4.0, "prep_s": [1.0, 3.0, 2.0], "warm_s": 5.0},
            "ops": list(ops), "checks": list(checks), "heap_peak_mb": 100.0,
            "passes": [{"pass": p, "traced": t} for p, t in passes],
            "layers": layers or {}, "cpus": 4}


DIGESTS = {"a": "d", "b": "d", "c": "d"}
E2E = [{"name": n, "unit": "x"} for n in ("setup_s", "pass_s", "op_p50_ms", "heap_peak_mb")]


class EndToEnd(unittest.TestCase):
    def test_metrics_of_a_clean_run(self):
        r = raw([op(0, "a", 9000), op(1, "a", 1000), op(1, "b", 2000), op(1, "c", 4000)])
        res, failures = bench.result(r, DIGESTS, E2E, trace=False)
        self.assertEqual(failures, [])
        self.assertTrue(res["correct"])
        m = {k: v["value"] for k, v in res["metrics"].items()}
        # warm pass 0 is set-up, not measurement
        self.assertEqual(m["pass_s"], 7.0)
        self.assertEqual(m["op_p50_ms"], 2000)
        self.assertEqual(m["setup_s"], 4.0 + 2.0 + 5.0)
        self.assertEqual(res["attempted"], 4)

    def test_failing_query_counts_as_failed_and_is_left_out_of_pass_s(self):
        r = raw([op(1, "a", 1000), op(1, "b", 2000, ok=False), op(1, "c", 4000)])
        res, failures = bench.result(r, DIGESTS, E2E, trace=False)
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (3, 1))
        self.assertEqual(failures[0][0], "b")
        self.assertEqual(res["metrics"]["pass_s"]["value"], 5.0)
        self.assertEqual(res["metrics"]["op_p50_ms"]["value"], 2500)

    def test_wrong_digest_is_caught(self):
        r = raw([op(1, "a", 1000), op(1, "b", 2000, digest="other"), op(1, "c", 4000)])
        res, failures = bench.result(r, DIGESTS, E2E, trace=False)
        self.assertEqual(res["failed"], 1)
        self.assertIn("digest other != recorded d", failures[0][1])
        self.assertEqual(res["metrics"]["pass_s"]["value"], 5.0)

    def test_query_without_recorded_digest_fails(self):
        res, _ = bench.result(raw([op(1, "z", 1000)]), DIGESTS, E2E, trace=False)
        self.assertEqual(res["failed"], 1)

    def test_failed_workload_check_counts(self):
        r = raw([op(1, "t", 10, kind="turn")],
                checks=[{"name": "store counts", "ok": False, "detail": "kv 3 != 4"}])
        res, _ = bench.result(r, DIGESTS, E2E, trace=False)
        self.assertEqual((res["attempted"], res["failed"]), (2, 1))

    def test_pass_s_is_the_median_over_passes(self):
        r = raw([op(p, "a", ms) for p, ms in ((1, 1000), (2, 3000), (3, 2000))],
                passes=((1, False), (2, False), (3, False)))
        res, _ = bench.result(r, DIGESTS, E2E, trace=False)
        self.assertEqual(res["metrics"]["pass_s"]["value"], 2.0)


class Record(unittest.TestCase):
    def test_record_replaces_digests_and_drops_queries_no_workload_runs(self):
        workloads = {"w": {"params": {"queries": ["a", "b"]}}, "t": {"params": {"turns": 3}}}
        r = raw([op(1, "a", 1, digest="new"), op(1, "b", 1, ok=False)])
        got = bench.recorded_digests({"a": "old", "b": "kept", "stale": "x"}, r, workloads)
        self.assertEqual(got, {"a": "new", "b": "kept"})


class PerLayer(unittest.TestCase):
    NAMES = [{"name": n, "unit": "x"} for n in
             ("sched.jobs", "streaming.plan_ms", "serve.view_ms", "trace.pass_s")]

    def test_unexercised_layers_report_zero(self):
        r = raw([op(1, "t", 1000, kind="turn"), op(1, "t", 1300, kind="turn"),
                 op(1, "/api/tasks", 40, kind="view"), op(1, "/api/memory", 60, kind="view")],
                passes=((1, True),), layers={"sched.jobs": 12.0, "other": 1.0})
        res, _ = bench.result(r, DIGESTS, self.NAMES, trace=True)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(set(m), {x["name"] for x in self.NAMES})
        self.assertEqual(m["sched.jobs"], 12.0)
        self.assertEqual(m["streaming.plan_ms"], 0.0)
        self.assertEqual(m["serve.view_ms"], 50)
        self.assertAlmostEqual(m["trace.pass_s"], 2.3)


class Spec(unittest.TestCase):
    def test_benchmark_json_and_workloads_json_agree(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        with open(os.path.join(ROOT, "perfbench", "workloads.json")) as f:
            wl = json.load(f)
        for w in spec["workloads"]:
            self.assertIn(w["name"], wl["workloads"])
        self.assertEqual({m["name"] for m in spec["per_layer"]}, set(wl["layer_map"]))
        computed = set(bench.end_to_end(raw([op(1, "a", 1)]), DIGESTS))
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, computed)


if __name__ == "__main__":
    unittest.main()
