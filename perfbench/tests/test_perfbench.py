"""The benchmark's own tests. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The last two tests build the engine (once per source state) and start a
JVM each, so they take about a minute after the build.
"""
import contextlib
import filecmp
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import run  # noqa: E402


def run_bench(*argv):
    """run.main(argv) -> (exit code, last stdout line as JSON, record)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = run.main(list(argv))
    lines = buf.getvalue().strip().splitlines()
    return rc, json.loads(lines[-1]), json.loads(lines[-2])


class GeneratorTest(unittest.TestCase):
    def gen_twice(self, kind, seeds, **kw):
        with tempfile.TemporaryDirectory() as d:
            outs = []
            for i, seed in enumerate(seeds):
                out = os.path.join(d, str(i))
                args = ["--kind", kind, "--out", out]
                if seed is not None:
                    args += ["--seed", str(seed)]
                for k, v in kw.items():
                    args += [f"--{k}", str(v)]
                gen.main(args)
                outs.append(out)
            return [self.same(outs[0], o) for o in outs[1:]]

    def same(self, a, b):
        for t in sorted(os.listdir(a)):
            pa_, pb = os.path.join(a, t), os.path.join(b, t)
            if os.path.isdir(pa_):
                files = sorted(os.listdir(pa_))
                if files != sorted(os.listdir(pb)):
                    return False
                if filecmp.cmpfiles(pa_, pb, files, shallow=False)[0] != files:
                    return False
        return True

    small = {"dense-rows": 300, "text-rows": 100}

    def test_same_inputs_every_time(self):
        self.assertEqual(self.gen_twice("suite", [None, None], sf=0.002), [True])
        self.assertEqual(self.gen_twice("pipeline", [3, 3], **self.small), [True])

    def test_other_seed_other_pipeline_inputs(self):
        self.assertEqual(self.gen_twice("pipeline", [3, 4], **self.small), [False])


class PercentileTest(unittest.TestCase):
    def test_omitted_with_fewer_than_ten_beyond(self):
        self.assertIsNone(run.percentile(list(range(19)), 0.5))
        self.assertEqual(run.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(run.percentile(list(range(999)), 0.99))
        self.assertIsNotNone(run.percentile(list(range(1000)), 0.99))
        self.assertIsNotNone(run.percentile(list(range(282)), 0.95))
        self.assertIsNone(run.percentile(list(range(199)), 0.95))


class MetricNamesTest(unittest.TestCase):
    """The printed metric names are exactly BENCHMARK.json's."""

    def fake_result(self, workload):
        ops = ([{"id": i + 1, "name": f"q{i}", "kind": "query", "wall_s": 0.5 + i / 100,
                 "build_s": 0.1, "ok": True, "error": ""} for i in range(16)] * 2
               if workload != "pipeline" else
               [{"id": i + 1, "name": n, "kind": k, "wall_s": 1.0, "build_s": 0.5,
                 "ok": True, "error": ""} for i, (n, k) in enumerate([
                     ("dense.fit", "fit"), ("text.fit", "fit"),
                     ("dense.compile", "compile"), ("text.compile", "compile"),
                     ("dense.score", "score"), ("text.score", "score"),
                     ("dense.serve", "serve"), ("text.serve", "serve")])])
        return {"ops": ops, "peak_rss_mb": 900.0, "layers": [["sched.jobs", 3.0]],
                "layers_by_op": [], "dense.serve_latency_ms": [1.0] * 1200,
                "text.serve_latency_ms": [9.0] * 24}

    def test_names_match_benchmark_json(self):
        bench = run.load_bench()
        want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
                1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
        conf = run.load_config()["workloads"]
        self.assertEqual(sorted(conf), sorted(w["name"] for w in bench["workloads"]))
        for name, wl in conf.items():
            for trace in (0, 1):
                metrics, _, _ = run.summarize(name, wl, self.fake_result(name),
                                              trace, 5.0, 4)
                self.assertEqual({k: u for k, (_, u) in metrics.items()},
                                 want[trace], (name, trace))


class HarnessTest(unittest.TestCase):
    """End to end through the engine (builds it on first use)."""

    def test_fault_injected_operation_fails_the_run(self):
        passes = run.load_config()["workloads"]["suite-sf0.1"]["passes"]
        rc, out, record = run_bench("--workload", "suite-sf0.1", "--seed", "5",
                                    "--seconds", "1", "--ops", "q_topk_orders,q_argmax_class",
                                    "--fault", "q_argmax_class")
        self.assertNotEqual(rc, 0)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (2 * passes, passes))
        self.assertEqual({f["name"] for f in record["failed_ops"]}, {"q_argmax_class"})
        self.assertTrue(all("injected fault" in f["why"] for f in record["failed_ops"]))

    def test_traced_tiny_query_sees_jobs_and_phases(self):
        rc, out, record = run_bench("--workload", "suite-sf0.1", "--seed", "5",
                                    "--seconds", "1", "--trace", "1",
                                    "--ops", "q_topk_orders")
        m = {k: v["value"] for k, v in out["metrics"].items()}
        self.assertEqual(rc, 0, record["failed_ops"])
        self.assertGreater(m["sched.jobs"], 0)
        self.assertGreater(m["catalyst.executions"], 0)
        for k in ("catalyst.analysis_ms", "catalyst.optimization_ms",
                  "catalyst.planning_ms"):
            self.assertGreaterEqual(m[k], 0, k)


if __name__ == "__main__":
    unittest.main()
