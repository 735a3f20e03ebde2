"""The benchmark's own tests.

    python3 -m unittest perfbench/test_bench.py        # from the checkout root

* the generator: the same seed gives byte-identical inputs, another seed
  different ones;
* the harness: two traced runs of one seed repeat the job, stage and
  row counts exactly (runs each workload twice, traced);
* the gate: a deliberately corrupted output makes it fire.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _files(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        size = run.SIZES["etl_day"]
        with tempfile.TemporaryDirectory(dir=ROOT) as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            fa = gen.make_inputs(a, 11, **size)
            fb = gen.make_inputs(b, 11, **size)
            fc = gen.make_inputs(c, 12, **size)
            self.assertEqual(fa, fb)
            self.assertEqual(_files(a), _files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a),
                                                   shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(a, c, _files(a), shallow=False)
            self.assertIn(os.path.join("sf", "lineitem.parquet"), mismatch)
            self.assertIn(os.path.join("stream", "arrivals.parquet"), mismatch)
            self.assertNotEqual(fa["rejected"], fc["rejected"])


class _Run:
    """Two traced runs of one seed per workload, shared by the tests
    below; the second run's work dir is left in place."""
    done = {}

    @classmethod
    def of(cls, workload):
        if workload not in cls.done:
            work = os.path.join(ROOT, ".bench_work", workload)
            runs = []
            for _ in range(2):
                r = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"),
                     "--workload", workload, "--seed", "5", "--seconds", "1",
                     "--trace", "1"],
                    cwd=ROOT, capture_output=True, text=True)
                if r.returncode != 0:
                    raise AssertionError(r.stderr[-3000:])
                with open(os.path.join(work, "jvm.json")) as f:
                    runs.append((json.load(f),
                                 json.loads(r.stdout.splitlines()[-1])))
            cls.done[workload] = (work, runs)
        return cls.done[workload]


REPEATED = ["spark.jobs", "spark.stages", "build.jobs", "exec.jobs",
            "stream.pair_jobs", "stream.fold_jobs", "stream.compact_jobs",
            "stream.serve_jobs", "artifact.fold_jobs", "artifact.read_jobs",
            "sources.rows_in", "sources.rejected_values", "pipeline.rows_out",
            "stream.pairs"]


class RepeatTest(unittest.TestCase):
    def check_repeats(self, workload):
        _, runs = _Run.of(workload)
        outs = [out["metrics"] for _, out in runs]
        for jvm, out in runs:
            self.assertTrue(out["correct"])
            self.assertGreater(out["metrics"]["spark.jobs"]["value"], 0)
            self.assertGreaterEqual(out["metrics"]["trace.coverage"]["value"],
                                    0.9)
        for k in REPEATED:
            self.assertEqual(outs[0][k], outs[1][k], k)
        counts = [{k: v for k, v in jvm["rows"].items() if "bytes" not in k}
                  for jvm, _ in runs]
        self.assertTrue(counts[0])
        self.assertEqual(counts[0], counts[1])

    def test_tpch22_repeats(self):
        self.check_repeats("tpch22")

    def test_etl_day_repeats(self):
        self.check_repeats("etl_day")


class GateTest(unittest.TestCase):
    def copy(self, workload):
        work, _ = _Run.of(workload)
        t = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_work"))
        self.addCleanup(shutil.rmtree, t, True)
        shutil.copytree(work, os.path.join(t, "w"), symlinks=False,
                        ignore=shutil.ignore_patterns("spark-local", "tmp"))
        return os.path.join(t, "w")

    def test_tpch22_gate_fires_on_a_wrong_value(self):
        w = self.copy("tpch22")
        self.assertEqual(check.check_tpch22(w), [])
        p = os.path.join(w, "gate", "tpch22.json")
        with open(p) as f:
            g = json.load(f)
        row = g["results"]["q_tpch_q6"]["rows"][0]
        row[0] = row[0] + 0.01
        with open(p, "w") as f:
            json.dump(g, f)
        problems = check.check_tpch22(w)
        self.assertEqual(len(problems), 1)
        self.assertIn("q_tpch_q6", problems[0])

    def test_etl_day_gate_fires_on_a_wrong_table_count_and_view(self):
        w = self.copy("etl_day")
        with open(os.path.join(w, "facts.json")) as f:
            facts = json.load(f)
        p = os.path.join(w, "gate", "blueforty_dag.json")
        with open(p) as f:
            g = json.load(f)
        g["dag_dir"] = g["dag_dir"].replace(_Run.of("etl_day")[0], w)
        with open(p, "w") as f:
            json.dump(g, f)
        self.assertEqual(check.gate("etl_day", w, facts)[0], [])

        table = os.path.join(g["dag_dir"], "SUPPLIER_ZIP5")
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM '{table}/*.parquet'")
        con.execute("UPDATE t SET ZIP5 = '00000' WHERE rowid = 0")
        shutil.rmtree(table)
        os.makedirs(table)
        con.execute(f"COPY t TO '{table}/part-0.parquet' (FORMAT parquet)")
        p = os.path.join(w, "gate", "stream_day.json")
        with open(p) as f:
            g = json.load(f)
        g["view"]["rows"][0][1] += 1
        with open(p, "w") as f:
            json.dump(g, f)
        facts["rejected"]["purchases"] += 1

        problems, _ = check.gate("etl_day", w, facts)
        for what in ("SUPPLIER_ZIP5", "rejected values in purchases",
                     "stream view"):
            self.assertTrue(any(x.startswith(what) for x in problems),
                            (what, problems))
        self.assertFalse(any(x.startswith("stream durable") for x in problems))


if __name__ == "__main__":
    unittest.main()
