"""Tests of the benchmark itself. From the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The traced-run test builds the harness on first use and runs one short
traced run per workload (about a minute each).
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for n in sorted(os.listdir(d)):
        h.update(n.encode())
        with open(os.path.join(d, n), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class GeneratedInputs(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for w in run.IMPORTS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                    tempfile.TemporaryDirectory() as c:
                gen.generate(w, a, 7)
                gen.generate(w, b, 7)
                gen.generate(w, c, 8)
                self.assertEqual(digest(a), digest(b), w)
                self.assertNotEqual(digest(a), digest(c), w)


class SelfTimes(unittest.TestCase):
    def test_nested_intervals_split_the_wall_time(self):
        # op [0, 100): a span [10, 90) holding a job [20, 50) that overlaps
        # a planning phase [40, 60), and a JDBC statement [70, 80)
        st = layers.self_times(0, 100, [
            (10, 90, layers.PRIORITY["span"], "sources"),
            (20, 50, layers.PRIORITY["job"], "sink"),
            (40, 60, layers.PRIORITY["plan"], "plan"),
            (70, 80, layers.PRIORITY["jdbc"], "sink.promote"),
        ])
        self.assertEqual(st, {"uncovered": 20, "sources": 30, "sink": 30,
                              "plan": 10, "sink.promote": 10})
        self.assertEqual(sum(st.values()), 100)

    def test_inner_span_wins_and_intervals_are_clipped(self):
        st = layers.self_times(100, 200, [
            (50, 250, 0, "uncovered"),       # the operation's own span
            (120, 180, 0, "sources"),        # a span inside it
            (190, 400, 3, "merge"),          # a job that outlives the op
        ])
        self.assertEqual(st, {"uncovered": 30, "sources": 60, "merge": 10})

    def test_empty_operation(self):
        self.assertEqual(layers.self_times(5, 5, [(0, 10, 3, "sink")]), {})


class CallSites(unittest.TestCase):
    lines = layers.SourceLines(ROOT)

    def importer_frame(self, needle):
        path = os.path.join(ROOT, "src/main/scala/graft/api/Importer.scala")
        with open(path) as f:
            n = next(i for i, line in enumerate(f, 1) if needle in line)
        return f"graft.api.Importer$.importToJdbc(Importer.scala:{n})"

    def test_library_files_map_to_layers(self):
        cases = {
            "graft.sink.JdbcSink$.appendBatch(JdbcSink.scala:172)": "sink",
            "graft.operators.Ordinals$.withArrivalOrdinal(Ordinals.scala:43)": "ordinals",
            "graft.sources.JsonSource$.readArray(JsonSource.scala:25)": "sources",
            "graft.operators.PageRank$.ranks(PageRank.scala:10)": "operators",
        }
        for frame, layer in cases.items():
            self.assertEqual(layers.job_layer([frame], self.lines), layer, frame)

    def test_structure_validation_and_in_db_staging(self):
        self.assertEqual(layers.job_layer([
            "graft.sources.CsvSource$.validateStructure(CsvSource.scala:110)",
            "graft.sources.CsvSource$.validateStructure(CsvSource.scala:132)"],
            self.lines), "sources.validate_structure")
        self.assertEqual(layers.job_layer([
            "graft.sink.JdbcSink$.appendBatch(JdbcSink.scala:172)",
            "graft.sink.JdbcMerge$.mergeViaSql(JdbcMerge.scala:60)"],
            self.lines), "indb.stage")

    def test_importer_jobs_map_by_their_source_line(self):
        for needle, layer in [("targetLc.count()", "target_read"),
                              ("val found = source.count()", "sources"),
                              ("v.errors.count()", "transform"),
                              ("merged.count()", "merge")]:
            frames = [self.importer_frame(needle), "graftbench.Harness$.main(Harness.scala:1)"]
            self.assertEqual(layers.job_layer(frames, self.lines), layer, needle)

    def test_unknown_call_sites_stay_unmapped(self):
        self.assertIsNone(layers.job_layer(["graftbench.Harness$.main(Harness.scala:1)"],
                                           self.lines))
        self.assertIsNone(layers.job_layer(
            ["graft.api.Importer$.importToJdbc(Importer.scala:1)"], self.lines))

    def test_jdbc_statements(self):
        self.assertEqual(layers.jdbc_layer(
            ["graft.sink.JdbcSink$.stageAndPromote(JdbcSink.scala:260)"]), "sink.promote")
        self.assertEqual(layers.jdbc_layer(
            ["graft.sink.JdbcMerge$.mergeViaSql(JdbcMerge.scala:100)"]), "indb.sql")
        self.assertEqual(layers.jdbc_layer(
            ["graft.sink.JdbcSink$.countRows(JdbcSink.scala:60)"]), "uncovered")


def bench(*args):
    """One benchmark run from the checkout root: (result, stderr)."""
    r = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(r.stderr[-3000:])
    return json.loads(r.stdout.strip().split("\n")[-1]), r.stderr


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Runs(unittest.TestCase):
    def test_untraced_run_prints_the_end_to_end_metrics(self):
        res, err = bench("--workload", "import_upsert_indb", "--seed", "2",
                         "--seconds", "1", "--trace", "0")
        self.assertTrue(res["correct"], err[-3000:])
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                         declared("end_to_end"))
        self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()))

    def test_traced_runs(self):
        """Every job call site seen in a traced run of each workload maps
        to a named layer, and the self times add up to the operation
        time."""
        for w in run.IMPORTS:
            res, err = bench("--workload", w, "--seed", "1", "--seconds", "1",
                             "--trace", "1")
            self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()},
                             declared("per_layer"))
            m = {k: v["value"] for k, v in res["metrics"].items()}
            self.assertTrue(res["correct"], err[-3000:])
            self.assertEqual(m["trace.unmapped_jobs"], 0, err[-3000:])
            self.assertGreater(m["spark.jobs"], 0)
            total = sum(m[k] for k in layers.TIME_METRICS.values())
            self.assertAlmostEqual(total, m["trace.wall_s"], places=6, msg=w)


    def test_capped_operations_fail_with_their_layer(self):
        res, err = bench("--workload", "import_json_upsert", "--seed", "1",
                         "--seconds", "1", "--trace", "0", "--cap", "1")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])
        self.assertIn("import: timeout after 1s in ", err)
        kept = re.search(r"run directory kept: (\S+)", err)
        self.assertIsNotNone(kept)
        shutil.rmtree(kept.group(1))

    def test_without_the_library_it_fails_fast(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__", "target", "project"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "import_json_upsert", "--seed", "1", "--seconds", "1",
                                "--trace", "0"], cwd=d, capture_output=True, text=True,
                               timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
