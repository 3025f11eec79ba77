"""The benchmark's own tests: naming, the BENCHMARK.json contract, the
percentile rule, span self time, and (through the JVM side's self test)
generator determinism.

    python3 perfbench/run.py --selftest
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import derive  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

NAME = r"[A-Za-z0-9_.-]+"


class Names(unittest.TestCase):
    def test_names_are_plain_and_unique(self):
        names = ([w for w, _ in metrics.WORKLOADS] + [n for n, *_ in metrics.END_TO_END]
                 + [m["name"] for m in metrics.PER_LAYER])
        for n in names:
            self.assertRegex(n, f"^{NAME}$")
            self.assertRegex(n, metrics.NAME)
        self.assertEqual(len(names), len(set(names)))


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        self.doc = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    def test_is_the_catalog(self):
        self.assertEqual(self.doc, metrics.benchmark_json())

    def test_contract_shape(self):
        d = self.doc
        self.assertEqual(set(d), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(2 <= len(d["workloads"]) <= 8)
        self.assertTrue(1 <= len(d["per_layer"]) <= 128)
        self.assertTrue(1 <= d["run_seconds"] <= 60)
        for w in d["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
        for m in d["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertIn(m["better"], ("lower", "higher"))
            self.assertTrue(0 < m["bound"] <= 0.25)
        setup = next(m for m in d["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(m["bound"] for m in d["end_to_end"]))
        for m in d["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_every_metric_is_tagged(self):
        workloads = {w for w, _ in metrics.WORKLOADS}
        for m in metrics.PER_LAYER:
            self.assertTrue(m["layer"] and m["moves"], m["name"])
            self.assertTrue(set(m["idle"]) <= workloads, m["name"])
        self.assertEqual(len(metrics.PER_LAYER), len(derive_names()))


def derive_names():
    """Names derive.derive produces on an empty trace."""
    return set(derive.derive([], {"latencies_ms": []}))


class Derive(unittest.TestCase):
    def test_covers_the_catalog(self):
        self.assertEqual(derive_names(), {m["name"] for m in metrics.PER_LAYER})

    def test_self_time_subtracts_covered_children(self):
        ms = 1_000_000
        recs = [
            {"kind": "span", "id": 1, "parent": 0, "name": "snapshotcache.render", "req": 1,
             "t0": 0, "t1": 100 * ms, "attrs": {}},
            {"kind": "span", "id": 2, "parent": 1, "name": "grafana.query_daily", "req": 1,
             "t0": 10 * ms, "t1": 50 * ms, "attrs": {"bytes": 10, "points": 2}},
            {"kind": "span", "id": 3, "parent": 1, "name": "snapshotcache.version", "req": 1,
             "t0": 40 * ms, "t1": 60 * ms, "attrs": {}},
        ]
        m = derive.derive(recs, {"latencies_ms": [1.0]})
        self.assertAlmostEqual(m["snapshotcache.render_ms"], 50.0)
        self.assertAlmostEqual(m["grafana.query_daily.self_ms"], 40.0)
        self.assertAlmostEqual(m["snapshotcache.hit_ratio"], 0.0)

    def test_probe_scans_stay_out_of_the_serve_figures(self):
        # live_ingest's freshness prober scans whole windows under its own
        # span; only the request mix's grafana spans count
        recs = [
            {"kind": "span", "id": 1, "parent": 0, "name": "grafana.query", "req": 1,
             "t0": 0, "t1": 10, "attrs": {"bytes": 100, "points": 50}},
            {"kind": "span", "id": 2, "parent": 0, "name": "probe.raw", "req": 0,
             "t0": 0, "t1": 90, "attrs": {}},
            {"kind": "job", "job": 1, "span": "1"},
            {"kind": "job", "job": 2, "span": "2"},
            {"kind": "job", "job": 3, "span": "2"},
            {"kind": "stage", "stage": 1, "job": 1, "records": 200},
            {"kind": "stage", "stage": 2, "job": 2, "records": 100000},
            {"kind": "stage", "stage": 3, "job": 3, "records": 100000},
        ]
        for st in recs[5:]:
            st.update(tasks=1, run_ms=1, cpu_ns=0, gc_ms=0, sched_ms=0, shuffle_write=0, spill=0)
        m = derive.derive(recs, {"latencies_ms": [1.0]})
        self.assertAlmostEqual(m["grafana.rows_read_per_point"], 4.0)
        self.assertAlmostEqual(m["grafana.jobs_per_request"], 1.0)
        self.assertAlmostEqual(m["grafana.query.self_ms"], 10 / 1e6)
        self.assertEqual(m["spark.jobs"], 3)


class Percentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(run.percentile(range(20), 0.5), 9.5)
        with self.assertRaises(run.RunError):
            run.percentile(range(19), 0.5)
        self.assertEqual(run.percentile(range(100), 0.9), 89)
        with self.assertRaises(run.RunError):
            run.percentile(range(99), 0.9)
        with self.assertRaises(run.RunError):
            run.percentile(range(199), 0.95)


class Generator(unittest.TestCase):
    def test_same_seed_same_files_and_schedule(self):
        classes = build.build()
        work = build.OUT / "selftest"
        shutil.rmtree(work, ignore_errors=True)
        try:
            p = subprocess.run(run.java_command(classes, work, ["selftest", str(work)]),
                               capture_output=True, text=True, timeout=120)
            self.assertEqual(p.returncode, 0, p.stderr[-2000:])
            self.assertIn("selftest ok", p.stdout)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
