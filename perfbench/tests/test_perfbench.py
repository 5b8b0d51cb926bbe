"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The generator and steadiness tests take seconds. The end-to-end tests
start Spark (and build the program on first use), so they take a few
minutes; they run the ETL oracle on a second seed and check that every
metric the benchmark defines is printed.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import steady  # noqa: E402

with open(os.path.join(BENCH, "config.json")) as f:
    CONFIG = json.load(f)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def tree_digest(path):
    h = hashlib.sha256()
    for r, _, fs in sorted(os.walk(path)):
        for f in sorted(fs):
            p = os.path.join(r, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bench(workload, seed, trace, seconds=1):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_gives_identical_sparkify_inputs(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        for d, seed in ((a, 7), (b, 7), (c, 8)):
            gen.write_sparkify(d, 3000, 60, seed)
        self.assertEqual(tree_digest(a), tree_digest(b))
        self.assertNotEqual(tree_digest(a), tree_digest(c))

    def test_same_seed_gives_identical_lake_tables(self):
        sizes = CONFIG["workloads"]["lake_queries"]["inputs"]
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        gen.lake_tables(a, sizes, 3)
        gen.lake_tables(b, sizes, 3)
        self.assertEqual(tree_digest(a), tree_digest(b))

    def test_sparkify_distributions(self):
        d = os.path.join(self.tmp, "s")
        gen.write_sparkify(d, 20000, 200, 1)
        logs = os.listdir(os.path.join(d, "log_data"))
        self.assertEqual(len(logs), 30)
        rows = []
        for f in logs:
            with open(os.path.join(d, "log_data", f)) as fh:
                rows += [json.loads(line) for line in fh]
        self.assertEqual(len(rows), 20000)
        share = lambda p: sum(map(p, rows)) / len(rows)
        self.assertAlmostEqual(share(lambda r: r["page"] == "NextSong"), 0.85, delta=0.02)
        self.assertAlmostEqual(share(lambda r: r["userId"] == ""), 0.035, delta=0.01)
        self.assertTrue(all(1541030400000 <= r["ts"] < 1543622400000 for r in rows))
        songs = [os.path.join(r, f) for r, _, fs in os.walk(os.path.join(d, "song_data"))
                 for f in fs]
        self.assertEqual(len(songs), 200)
        cat = []
        for p in songs:
            with open(p) as fh:
                cat.append(json.load(fh))
        self.assertGreater(sum(s["year"] == 0 for s in cat), 100)
        self.assertLess(len({s["title"] for s in cat}), len(cat))


class SteadinessTest(unittest.TestCase):
    def test_spread_is_interquartile_range_over_median(self):
        vals = [10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7]
        q1, _, q3 = __import__("statistics").quantiles(vals, n=4)
        self.assertAlmostEqual(steady.spread(vals), (q3 - q1) / 10.0)

    def test_verdicts(self):
        def run(v):
            return {"metrics": {m["name"]: {"value": v} for m in BENCHMARK["end_to_end"]}}
        flat = {"w": [run(1.0 + 0.001 * i) for i in range(10)]}
        wide = {"w": [run(1.0 + (i % 2)) for i in range(10)]}
        self.assertTrue(all(v[5] == "steady" for v in steady.verdicts(BENCHMARK, flat)))
        self.assertTrue(all(v[5] == "wide" for v in steady.verdicts(BENCHMARK, wide)))


class EndToEndTest(unittest.TestCase):
    """Starts Spark; builds the program first if needed."""

    def check_run(self, workload, seed, trace):
        code, lines = run_bench(workload, seed, trace)
        self.assertEqual(code, 0, "\n".join(lines[-20:]))
        result = json.loads(lines[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        kind = "per_layer" if trace else "end_to_end"
        self.assertEqual(sorted(result["metrics"]), sorted(m["name"] for m in BENCHMARK[kind]))
        detail = json.loads(lines[-2])["detail"]
        self.assertEqual(detail["failures"], [])
        return lines, result, detail

    def test_etl_oracle_on_second_seed(self):
        self.check_run("etl", 2, 0)

    def test_every_metric_is_printed(self):
        table_metrics = ["setup_s", "wall_s", "failed_ratio", "heap_peak_mb"]
        by_mode = {"etl": ["records_per_s", "lake_files", "lake_bytes_ratio"],
                   "queries": ["queries_per_s", "query_p50_s", "query_tail_s"]}
        for wl, spec in CONFIG["workloads"].items():
            lines, _, _ = self.check_run(wl, 1, 0)
            shown = {ln.split()[1] for ln in lines if ln.startswith(wl + " ")}
            for m in table_metrics + by_mode[spec["mode"]]:
                self.assertIn(m, shown, wl)
            lines, result, detail = self.check_run(wl, 1, 1)
            applicable = set(result["metrics"]) - set(detail["not_applicable"])
            self.assertIn("trace.overhead_s", applicable)
            prefixes = ("lake.", "sparkify.") if spec["mode"] == "etl" else \
                ("Relational.", "DedupOps.", "GraphOps.", "probe.")
            for m in result["metrics"]:
                if m.startswith(prefixes) or m.startswith("spark."):
                    self.assertIn(m, applicable, f"{wl}: {m}")


if __name__ == "__main__":
    unittest.main()
