"""Tests of the benchmark itself, on the sf0.001 smoke inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator tests take seconds; each end-to-end smoke run starts a
Spark JVM and takes about a minute.
"""
import hashlib
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402


def _digest(d):
    h = hashlib.sha256()
    for p in sorted(Path(d).rglob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in ("clean_session", "corpus_ingest"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                self.assertEqual(gen.generate(w, 5, "smoke", a), gen.generate(w, 5, "smoke", b))
                self.assertEqual(_digest(a), _digest(b))

    def test_planted_defect_counts(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("clean_session", 3, "smoke", d)
            t = pq.read_table(f"{d}/dirty.parquet")
            self.assertEqual(t.num_rows, m["rows"]["lineitem"])
            self.assertEqual(t["l_quantity"].null_count, m["null_l_quantity"])
            self.assertEqual(t["l_discount"].null_count, m["null_l_discount"])
            flags = pc.is_in(t["l_returnflag"], value_set=pa.array(["A", "N", "R"]))
            self.assertEqual(t.num_rows - pc.sum(flags).as_py(), m["flag_variants"])
            keys = set(zip(t["l_orderkey"].to_pylist(), t["l_linenumber"].to_pylist()))
            self.assertEqual(t.num_rows - len(keys), m["dup_keys"])
            price = pc.greater(t["l_extendedprice"], 200000.0)
            self.assertEqual(pc.sum(price).as_py(), m["outliers"])

    def test_batches_plant_every_kind(self):
        with tempfile.TemporaryDirectory() as d:
            m = gen.generate("corpus_ingest", 3, "smoke", d)
            for b, ids in enumerate(m["batches"]):
                got = pq.read_table(f"{d}/batch_{b}.parquet")["doc_id"].to_pylist()
                self.assertEqual(sorted(got), sorted(sum(ids.values(), [])))
                self.assertTrue(all(ids[k] for k in ids))


class SmokeRunTest(unittest.TestCase):
    def run_bench(self, workload, trace):
        r = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", trace, "--scale", "smoke"],
            capture_output=True, text=True, timeout=600, cwd=HERE.parent)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_workloads_report_every_metric(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        for w in [x["name"] for x in spec["workloads"]]:
            for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
                res = self.run_bench(w, trace)
                self.assertTrue(res["correct"], res)
                self.assertEqual(res["failed"], 0)
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                self.assertEqual(got, want)


if __name__ == "__main__":
    unittest.main()
