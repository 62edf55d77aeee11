"""Self-tests of the benchmark (no JVM needed):

    python3 perfbench/test_perfbench.py

- the same seed gives byte-identical inputs, another seed different ones;
- every metric name the benchmark prints is declared in BENCHMARK.json,
  with the same unit;
- a corrupted or missing pig_etl output counts as a failed op.
"""
import hashlib
import json
import os
import re
import shutil
import sys
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.ROOT, ".bench_build", "selftest")


def digest(top):
    out = {}
    for d, _, fs in os.walk(top):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, top)] = hashlib.sha256(fh.read()).hexdigest()
    return out


class SelfTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_gives_identical_inputs(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                a, b, c = (os.path.join(SCRATCH, w, x) for x in ("a", "b", "c"))
                gen.generate(w, 7, a, run.CONFIG)
                gen.generate(w, 7, b, run.CONFIG)
                gen.generate(w, 8, c, run.CONFIG)
                da, db, dc = digest(a), digest(b), digest(c)
                self.assertTrue(da)
                self.assertEqual(da, db)
                self.assertNotEqual(da, dc)

    def test_printed_names_are_declared(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layer, run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))
        # every name the summary line prints is declared, with its unit
        declared = {**e2e, **layer}
        p = {"ops": [{"i": 0, "lat_ms": 5.0, "error": None, "checked": True}], "timed_s": 1.0,
             "cpu_s": 1.0, "rss_peak_mb": 1.0,
             "extra": {k: 1.0 for k in ("recall_at_10", "stored_bytes_per_input_byte")}}
        shown, _ = run.summarize({"setup_s": 1.0}, p, {})
        self.assertEqual(set(shown), set(run.END_TO_END) | set(run.WORKLOAD_METRICS))
        for k in shown:
            self.assertEqual(declared.get(k), {**run.END_TO_END, **run.WORKLOAD_METRICS}[k], k)
        # every per-layer number the JVM side derives is printed under a declared name
        with open(os.path.join(HERE, "src", "graftbench", "Layers.scala")) as f:
            derived = set(re.findall(r'"([a-z_0-9.]+)" ->', f.read()))
        self.assertTrue(derived)
        self.assertLessEqual(derived, set(layer))

    def test_corrupted_output_counts_as_failed(self):
        top = os.path.join(SCRATCH, "pig")
        gen.tables(3, os.path.join(top, "tables"))
        scripts = gen.pig_scripts(3, 10, 3)
        con = duckdb.connect()
        for t in checks.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{top}/tables/{t}.parquet'")
        out = os.path.join(top, "out")
        for s in scripts:
            d = os.path.join(out, f"op_{s['i']:05d}")
            os.makedirs(d)
            pq.write_table(con.execute(s["sql"]).arrow(), os.path.join(d, "part-0.parquet"))
        ops = [{"i": s["i"], "error": None, "checked": True} for s in scripts]
        self.assertEqual(checks.check_pig(f"{top}/tables", ops, scripts, out), {})

        # flip one value of op 1, delete op 2's output
        p1 = os.path.join(out, "op_00001", "part-0.parquet")
        t = pq.read_table(p1)
        col = t.column(t.column_names[-1]).to_pylist()
        col[0] = col[0] + 1
        last = t.num_columns - 1
        pq.write_table(t.set_column(last, t.column_names[last],
                                    pa.array(col, t.schema.field(last).type)), p1)
        shutil.rmtree(os.path.join(out, "op_00002"))
        bad = checks.check_pig(f"{top}/tables", ops, scripts, out)
        self.assertEqual(sorted(bad), [1, 2])


if __name__ == "__main__":
    unittest.main()
