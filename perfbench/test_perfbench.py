"""Tests for the benchmark itself.

  python3 -m unittest discover -s perfbench -p 'test_*.py'

TracedRunTest runs the traced benchmark once per workload (about a minute
each, plus the first build). The fast tests alone:

  python3 -m unittest perfbench.test_perfbench.GeneratorTest \
      perfbench.test_perfbench.ChecksTest
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_events  # noqa: E402

SMALL = dict(gen_events.PARAMS, devices=2500, block_devices=1000, days=3)


def scratch():
    d = os.path.join(ROOT, ".bench_build", "tests")
    os.makedirs(d, exist_ok=True)
    return tempfile.mkdtemp(dir=d)


def table_digest(events_dir):
    """sha256 of the rows, in file order, as Arrow IPC bytes."""
    parts = sorted(os.listdir(events_dir))
    t = pa.concat_tables([pq.read_table(os.path.join(events_dir, p)) for p in parts])
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t.combine_chunks())
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest(), len(parts)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.dir = scratch()

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def gen(self, name, seed, parts):
        out = os.path.join(self.dir, name)
        meta = gen_events.generate(out, seed, parts, SMALL)
        return out, meta

    def test_same_bytes_for_any_partition_count(self):
        a, meta_a = self.gen("one", 7, 1)
        b, meta_b = self.gen("three", 7, 3)
        da, na = table_digest(os.path.join(a, "events.parquet"))
        db, nb = table_digest(os.path.join(b, "events.parquet"))
        self.assertEqual((na, nb), (1, 3))
        self.assertEqual(da, db)
        self.assertEqual(meta_a["stats"], meta_b["stats"])

    def test_file_bytes_repeat_and_seed_matters(self):
        a, _ = self.gen("a", 7, 1)
        b, _ = self.gen("b", 7, 1)
        c, _ = self.gen("c", 8, 1)
        def read(d):
            with open(os.path.join(d, "events.parquet", "part-00000.parquet"), "rb") as f:
                return f.read()
        self.assertEqual(read(a), read(b))
        self.assertNotEqual(read(a), read(c))

    def test_schema_matches_the_test_tables(self):
        out, meta = self.gen("s", 3, 2)
        got = pq.read_schema(os.path.join(out, "events.parquet", "part-00000.parquet"))
        want = pq.read_schema(os.path.join(HERE, "data", "sf0.01", "events.parquet"))
        self.assertEqual([(f.name, f.type) for f in got], [(f.name, f.type) for f in want])
        self.assertLess(meta["stats"]["max_group"], gen_events.GROUP_CAP)
        self.assertGreater(meta["stats"]["pairs"], 0)


class ChecksTest(unittest.TestCase):
    """A deliberately wrong result must be counted as failed."""

    def setUp(self):
        self.dir = scratch()
        self.data = os.path.join(self.dir, "data")
        os.makedirs(os.path.join(self.data, "events.parquet"))
        pq.write_table(pa.table({"user_id": [1, 2, 2], "value": [0.5, 1.5, 2.5]}),
                       os.path.join(self.data, "events.parquet", "part-00000.parquet"))
        self.oracle = "SELECT user_id, sum(value) AS total FROM events GROUP BY 1"

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def result(self, name, rows):
        d = os.path.join(self.dir, name)
        os.makedirs(d)
        pq.write_table(pa.table({"total": [r[1] for r in rows], "user_id": [r[0] for r in rows]}),
                       os.path.join(d, "part-0.parquet"))
        return {"name": f"query:{name}", "ok": True, "detail": "", "result": d,
                "oracle": self.oracle}

    def verdicts(self, entries):
        return checks.run_checks(entries, "daily_pipeline", self.data, 2,
                                 os.path.join(self.dir, "duck"))

    def test_right_and_wrong_results(self):
        right = self.result("right", [(1, 0.5), (2, 4.0)])
        wrong = self.result("wrong", [(1, 0.5), (2, 4.000001)])
        v = self.verdicts([right, wrong])
        self.assertEqual([x["ok"] for x in v], [True, False])
        res = {"workload": "query_mix", "executions": {"right": 3, "wrong": 3},
               "threw": {"right": 1}}
        self.assertEqual(checks.count_failures(res, v), (6, 4))

    def test_wrong_daily_output_fails_every_iteration(self):
        v = self.verdicts([self.result("matrix", [(1, 0.5)])])
        self.assertFalse(v[0]["ok"])
        res = {"workload": "daily_pipeline", "iterations": 3, "failed_iterations": 0}
        self.assertEqual(checks.count_failures(res, v), (3, 3))

    def test_a_result_that_could_not_be_written_fails(self):
        e = {"name": "query:x", "ok": False, "detail": "boom", "result": "", "oracle": "x"}
        self.assertFalse(self.verdicts([e])[0]["ok"])


class TracedRunTest(unittest.TestCase):
    """Every traced run reports exactly BENCHMARK.json's per-layer names."""

    def test_traced_runs_report_every_per_layer_metric(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        want = {m["name"]: m["unit"] for m in spec["per_layer"]}
        for w in spec["workloads"]:
            with self.subTest(workload=w["name"]):
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                    "--workload", w["name"], "--seed", "5",
                                    "--seconds", "1", "--trace", "1"],
                                   cwd=ROOT, capture_output=True, text=True, timeout=900)
                self.assertEqual(p.returncode, 0, p.stderr[-3000:])
                lines = p.stdout.strip().splitlines()
                last = json.loads(lines[-1])
                self.assertTrue(last["correct"])
                if w["name"] == "daily_pipeline":
                    report = json.loads("\n".join(lines[:-1]))
                    self.assertIn("daily:replica_matches_dailyRun", report["passed_checks"])
                self.assertEqual({k: v["unit"] for k, v in last["metrics"].items()}, want)
                for k, v in last["metrics"].items():
                    self.assertIsNotNone(v["value"], k)


if __name__ == "__main__":
    unittest.main()
