"""Tests of the benchmark itself (not of the engine).

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The generator and BENCHMARK.json tests take seconds. The command tests build
the engine if needed and run a short `ingest` run and a traced `churn` run,
about three minutes together.
"""
import filecmp
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402


def scratch_dir():
    base = os.path.join(BENCH, ".scratch")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(prefix="test-", dir=base)


def files_under(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def last_json_line(stdout):
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except ValueError:
        return None


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_tables(self):
        with scratch_dir() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            gen.generate(7, a)
            gen.generate(7, b)
            names = files_under(a)
            self.assertEqual(names, files_under(b))
            self.assertIn("corpus/documents.parquet", names)
            self.assertIn("corpus/embeddings.parquet", names)
            match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_gives_other_tables(self):
        with scratch_dir() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            gen.generate(7, a, "serve")
            gen.generate(8, b, "serve")
            for t in ("documents", "embeddings"):
                p = os.path.join("corpus", t + ".parquet")
                self.assertFalse(filecmp.cmp(os.path.join(a, p), os.path.join(b, p),
                                             shallow=False), p)

    def test_ingest_inputs_leave_out_the_corpus(self):
        with scratch_dir() as d:
            plan = gen.generate(3, d, "ingest")
            self.assertNotIn("corpus", plan)
            self.assertFalse(os.path.exists(os.path.join(d, "corpus")))
            self.assertNotIn(plan["bootstrap"], plan["shards"])

    def test_expected_answers_follow_from_the_inputs(self):
        with scratch_dir() as d:
            plan = gen.generate(3, d, "ingest")
            for sh in plan["shards"][:3]:
                texts = pq.read_table(os.path.join(d, sh["path"])).column("text")
                self.assertEqual(sh["chunks"],
                                 sum(-(-len(t.as_py()) // 800) for t in texts))
                by_id = {r["doc_id"]: r["text"] for r in
                         pq.read_table(os.path.join(d, sh["path"])).to_pylist()}
                for x, y in sh["exact_pairs"]:
                    self.assertEqual(by_id[x], by_id[y])


class IsolationTest(unittest.TestCase):

    def test_a_change_deep_under_a_graft_cache_is_seen(self):
        with scratch_dir() as d:
            deep = os.path.join(d, "graft-ivfpq-1", "index", "gen=1", "pq")
            os.makedirs(deep)
            f = os.path.join(deep, "part-0.parquet")
            with open(f, "w") as fh:
                fh.write("a")
            before = run.graft_tmp_state(d)
            self.assertEqual(before, run.graft_tmp_state(d))
            with open(f, "a") as fh:
                fh.write("b")
            self.assertNotEqual(before, run.graft_tmp_state(d))


class BenchmarkJsonTest(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_contract_shape(self):
        b = self.b
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual(b["paths"], ["perfbench"])
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [w["name"] for w in b["workloads"]]
        self.assertTrue(2 <= len(names) <= 8)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertIn(w["name"], run.WORKLOADS)
            self.assertLessEqual(len(w["why"]), 200)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], name)
            self.assertRegex(m["unit"], unit)
            self.assertIn(m["better"], ("lower", "higher"))
            names.append(m["name"])
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s",
                                  "better": "lower",
                                  "bound": max(m["bound"] for m in b["end_to_end"])}])


class CommandTest(unittest.TestCase):

    def test_planted_failure_is_counted_and_fails_the_command(self):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "ingest",
             "--seed", "1", "--seconds", "1", "--trace", "0", "--plant-failure"],
            cwd=REPO, capture_output=True, text=True, timeout=900)
        self.assertNotEqual(p.returncode, 0, p.stderr[-2000:])
        res = last_json_line(p.stdout)
        self.assertIsNotNone(res, p.stdout[-2000:])
        self.assertGreaterEqual(res["failed"], 1)
        self.assertGreater(res["attempted"], res["failed"])
        share = re.search(r"failed_op_share ([0-9.]+)", p.stdout)
        self.assertGreater(float(share.group(1)), 0.0)

    def test_churn_passes_its_checks_and_traces_every_write_kind(self):
        # churn is run by hand, not by BENCHMARK.json; this keeps it working
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "churn",
             "--seed", "1", "--seconds", "40", "--trace", "1"],
            cwd=REPO, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        res = last_json_line(p.stdout)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        # churn's write metrics are printed, not listed in BENCHMARK.json
        m = {k: float(v) for k, v in
             re.findall(r"^(\S+) +([0-9.]+) \(not listed\)$", p.stdout, re.M)}
        for n in ("Similarity.upsert_s", "Similarity.delete_s",
                  "Similarity.compact_s", "Streams.upsert_s", "Streams.delete_s",
                  "Streams.compact_s", "spark.jobs_per_write", "read_p50_s",
                  "write_p50_s", "store.bytes_written_per_user_byte"):
            self.assertGreater(m[n], 0, n)

    def test_fails_without_the_engine_sources(self):
        with scratch_dir() as d:
            shutil.copy(os.path.join(REPO, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".build", ".scratch"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "serve", "--seed", "1", "--seconds", "1",
                                "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertIsNone(last_json_line(p.stdout))


if __name__ == "__main__":
    unittest.main()
