"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

The generator and digest tests are pure Python. The JVM tests build the
engine (as perfbench/run.py does) and run short traced workloads on tiny
inputs; they take a few minutes.
"""
import collections
import csv
import io
import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        os.makedirs(build.build_dir(), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=build.build_dir())

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_inputs(self):
        self.assertEqual(gen.etl_files(7, 5), gen.etl_files(7, 5))
        self.assertNotEqual(gen.etl_files(7, 5), gen.etl_files(8, 5))
        a = gen.warehouse_inputs(os.path.join(self.tmp, "a"), 7, 0.001)
        b = gen.warehouse_inputs(os.path.join(self.tmp, "b"), 7, 0.001)
        for t in gen.TABLES:
            with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, \
                    open(os.path.join(b, f"{t}.parquet"), "rb") as fb:
                self.assertEqual(fa.read(), fb.read(), t)

    def test_copies_never_share_a_dedup_key(self):
        copies = 4
        patients, encounters, diagnoses = gen.etl_files(3, copies)
        rows = list(csv.reader(io.StringIO(patients.lstrip("﻿"))))[1:]
        rows = [[c.strip() for c in r] for r in rows]
        ids = collections.Counter(r[0] for r in rows)
        # within a copy only P-0002 repeats (the fixture's id duplicate)
        self.assertEqual(sorted(ids.values()), [1] * (10 * copies) + [2] * copies)
        person = collections.Counter((r[1], r[2], r[3], r[5], r[6]) for r in rows)
        self.assertEqual(set(person.values()), {1})
        enc = [re.split(r"[,;]", l)[0].strip() for l in encounters.splitlines()
               if l.strip() and not l.startswith("encounter_id")]
        enc_ids = collections.Counter(enc)
        self.assertEqual(sorted(enc_ids.values()), [1] * (7 * copies) + [2] * copies)
        keys = collections.Counter(re.findall(
            r"<Diagnosis>\s*(?:<encounterId>([^<]*)</encounterId>\s*)?<code[^>]*>([^<]*)</code>",
            diagnoses))
        self.assertEqual(sum(keys.values()), 8 * copies)
        self.assertEqual(set(keys.values()), {1})
        unknown = [c for (e, c) in keys if not e]
        self.assertEqual(len(set(unknown)), copies)

    def test_expected_counts_are_k_times_golden(self):
        e = gen.expected_etl(3)
        self.assertEqual(e["rows"], {"patients": 33, "encounters": 24, "diagnoses": 24, "logs": 36})
        self.assertEqual(len(e["reasons"]), 9)
        self.assertEqual(sum(e["reasons"].values()), e["rows"]["logs"])
        self.assertEqual(e["input_records"], 29 * 3)

    def test_incomplete_inputs_are_regenerated(self):
        d = gen.etl_inputs(self.tmp, 1, 2)
        self.assertTrue(os.path.exists(os.path.join(d, "_DONE")))
        self.assertFalse([f for f in os.listdir(d) if f.endswith(".tmp")])
        os.remove(os.path.join(d, "_DONE"))
        with open(os.path.join(d, "patients.csv"), "w") as f:
            f.write("partial")
        d2 = gen.etl_inputs(self.tmp, 1, 2)
        with open(os.path.join(d2, "patients.csv"), encoding="utf-8") as f:
            self.assertNotEqual(f.read(), "partial")


class DigestTest(unittest.TestCase):

    def test_column_and_row_order_do_not_matter(self):
        a = check.digest(["b", "a"], [(2.0, "x"), (1.0, "y")])
        b = check.digest(["a", "b"], [("y", 1.0), ("x", 2.0)])
        self.assertEqual(a, b)

    def test_floats_compare_at_ten_digits(self):
        self.assertEqual(check.digest(["v"], [(66 * 2.54,)]), check.digest(["v"], [(167.64,)]))
        self.assertNotEqual(check.digest(["v"], [(167.64,)]), check.digest(["v"], [(167.65,)]))


class HostSpeedTest(unittest.TestCase):

    def run_of(self, scale):
        ops = [{"name": n, "wall_s": w * scale, "cpu_s": c * scale}
               for n, w, c in [("a", 1.0, 2.0), ("a", 1.2, 2.5), ("b", 3.0, 1.0)]]
        return {"setup_s": 20.0 * scale, "heap_peak_bytes": 1 << 27,
                "ref_wall_s": [0.4 * scale, 0.5 * scale], "ref_cpu_s": [0.9 * scale]}, ops

    def test_a_uniformly_slower_host_reads_the_same(self):
        def metrics(scale):
            return run.end_to_end(*self.run_of(scale), ["a", "b"], 1000)
        for k, (v, _) in metrics(1.0).items():
            self.assertAlmostEqual(metrics(1.3)[k][0], v, places=9, msg=k)

    def test_times_are_in_reference_host_seconds(self):
        m = run.end_to_end(*self.run_of(1.0), ["a", "b"], 1)
        self.assertAlmostEqual(m["wall_s"][0], 4.0 * run.REF_WALL_S / 0.45)
        self.assertAlmostEqual(m["cpu_s"][0], 3.0 * run.REF_WALL_S / 0.45)
        self.assertAlmostEqual(m["setup_s"][0], 20.0 * run.REF_WALL_S / 0.45)


class JvmTest(unittest.TestCase):
    """Short traced runs on tiny inputs."""

    @classmethod
    def setUpClass(cls):
        cls.classpath = build.ensure()
        cls.tmp = tempfile.mkdtemp(dir=build.build_dir())

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def traced_run(self, workload, ops, inputs):
        out = os.path.join(self.tmp, workload)
        os.makedirs(out)
        return out, run.run_jvm(self.classpath, workload, ops, 1, 0, 1, inputs, out, 170)

    def assert_spans_account_for_ops(self, r):
        traced = [o for o in r["ops"] if o["traced"]]
        self.assertTrue(traced)
        for o in traced:
            self.assertIsNone(o["error"])
            root = [s for s in o["spans"] if s["parent"] == 0]
            self.assertEqual(len(root), 1)
            dur = (root[0]["end_ns"] - root[0]["start_ns"]) / 1e9
            self.assertAlmostEqual(dur, o["wall_s"], delta=0.01)
            # self times add up to the op's wall time
            self_total = sum(run.span_self_s(o, s) for s in o["spans"])
            self.assertAlmostEqual(self_total, dur, places=6)
            # span cpu adds up to the op's share of cpu_s
            span_cpu = sum(s["work"]["cpu_ns"] for s in o["spans"]) / 1e9
            self.assertAlmostEqual(span_cpu, o["cpu_s"], places=6)
            self.assertEqual(o["unattributed_cpu_ns"], 0)

    def test_one_fixture_copy_reproduces_the_golden_counts(self):
        inputs = gen.etl_inputs(os.path.join(self.tmp, "in"), 1, 1)
        with open(os.path.join(inputs, "expected.json")) as f:
            expected = json.load(f)
        self.assertEqual(expected["rows"], gen.GOLDEN_ROWS)
        out, r = self.traced_run("etl_load", ["etl_load"], inputs)
        con = check.connect()
        self.assertIsNone(check.etl_output(con, os.path.join(out, "etl", "warmup"), expected))
        for o in r["ops"]:
            self.assertIsNone(check.etl_output(con, o["out"], expected))
        self.assert_spans_account_for_ops(r)

    def test_query_spans_account_for_eager_checkpoints(self):
        inputs = gen.warehouse_inputs(os.path.join(self.tmp, "in"), 1, 0.001)
        ops = ["q6_revenue_forecast", "graph_kcore_rounds"]
        out, r = self.traced_run("query_mix", ops, inputs)
        verdict = check.query_outputs(os.path.join(out, "check"), ops, r["oracle_sql"], inputs)
        self.assertEqual(verdict, {n: None for n in ops})
        self.assert_spans_account_for_ops(r)
        kcore = [o for o in r["ops"] if o["traced"] and o["name"] == "graph_kcore_rounds"][0]
        build_jobs = sum(s["work"]["jobs"] for s in kcore["spans"] if s["name"] == "query.build")
        self.assertGreater(build_jobs, 0)  # checkpoint actions run while building


if __name__ == "__main__":
    unittest.main()
