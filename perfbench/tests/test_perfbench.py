"""Tests of the benchmark's own helpers.

Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The smoke test starts one JVM per workload and mode (a few minutes).
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def scratch():
    run.BUILD.mkdir(exist_ok=True)
    return tempfile.TemporaryDirectory(dir=run.BUILD, prefix="test-")


class GeneratorTest(unittest.TestCase):
    def gen(self, seed):
        return gen.gen_update(seed, nodes=2_000, changes_per_seq=200, seqs=4)

    def assertSameData(self, a, b):
        for part in ("nodes", "members"):
            for x, y in zip(a[part], b[part]):
                np.testing.assert_array_equal(x, y)
        for k in a["changes"]:
            np.testing.assert_array_equal(a["changes"][k], b["changes"][k])

    def test_same_seed_same_inputs(self):
        a, b = self.gen(7), self.gen(7)
        self.assertSameData(a, b)
        with scratch() as d:
            gen.write_update(a, f"{d}/a")
            gen.write_update(b, f"{d}/b")
            for t in ("node_geoms", "way_members", "changes"):
                self.assertTrue(pq.read_table(f"{d}/a/{t}.parquet").equals(
                    pq.read_table(f"{d}/b/{t}.parquet")), t)

    def test_different_seed_different_inputs(self):
        a, b = self.gen(7), self.gen(8)
        with self.assertRaises(AssertionError):
            self.assertSameData(a, b)

    def test_query_tables_are_fixed(self):
        with scratch() as d:
            gen.write_query(f"{d}/a", **run.QUERY_DATA["smoke"])
            gen.write_query(f"{d}/b", **run.QUERY_DATA["smoke"])
            for t in ("lineitem", "part", "documents", "embeddings"):
                self.assertTrue(pq.read_table(f"{d}/a/{t}.parquet").equals(
                    pq.read_table(f"{d}/b/{t}.parquet")), t)

    def test_batch_composition_and_replay(self):
        self.check_batches(self.gen(3), nodes=2_000, changes=200)
        # a batch larger than the snapshot (catch-up) still replays exactly
        self.check_batches(gen.gen_update(3, nodes=300, changes_per_seq=2_000, seqs=4),
                           nodes=300, changes=2_000)

    def check_batches(self, data, nodes, changes):
        ch = data["changes"]
        self.assertEqual(len(ch["id"]), 4 * changes)
        is_node = ch["obj"] == 0
        self.assertTrue((ch["action"][is_node] == 0).any())  # creates
        self.assertTrue((ch["deleted"][is_node] == 1).any())  # deletes
        self.assertTrue((ch["obj"] == 1).any())  # way modifies
        # some node carries two versions inside one seq
        first = ch["seq"] == 1
        ids, counts = np.unique(ch["id"][first & is_node], return_counts=True)
        self.assertTrue((counts > 1).any())
        # creates and deletes per seq fix the snapshot size after each seq
        state, sizes = gen.replay(data)
        per_seq = [int(((ch["seq"] == s) & is_node & (ch["action"] == 0)).sum())
                   - int(((ch["seq"] == s) & (ch["deleted"] == 1)).sum()) for s in range(1, 5)]
        self.assertEqual(sizes, list(nodes + np.cumsum(per_seq)))
        self.assertEqual(len(state), sizes[-1])
        _, sizes2 = gen.replay(data, upto=2)
        self.assertEqual(sizes2, sizes[:2])

    def test_checksum_is_order_independent(self):
        ids = np.arange(10)
        lon, lat = ids / 7.0, ids / 3.0
        perm = np.random.default_rng(0).permutation(10)
        self.assertEqual(gen.node_checksum(ids, lon, lat),
                         gen.node_checksum(ids[perm], lon[perm], lat[perm]))
        self.assertNotEqual(gen.node_checksum(ids, lon, lat),
                            gen.node_checksum(ids, lat, lon))


class TailTest(unittest.TestCase):
    def test_none_up_to_ten_samples(self):
        for n in range(0, 11):
            self.assertIsNone(metrics.tail([float(i) for i in range(n)]))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail([float(i) for i in range(1, 12)]), (1.0, 100 / 11))
        value, pct = metrics.tail([float(i) for i in range(1, 101)])
        self.assertEqual((value, pct), (90.0, 90.0))

    def test_ties_at_the_cut_step_down(self):
        xs = [1.0] * 5 + [2.0] * 10 + [3.0] * 5
        value, _ = metrics.tail(xs)
        self.assertEqual(value, 1.0)  # only 1.0 has ten or more strictly above


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_the_code(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_fails_without_program_sources(self):
        with scratch() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "minute_diff",
                 "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(proc.returncode, 0)
            self.assertEqual(proc.stdout.strip(), "")


class SmokeTest(unittest.TestCase):
    DETAIL_METRICS = {
        "update": ["seq_latency_p50_s", "seq_latency_tail_s", "changes_per_s",
                   "store_mb_per_seq", "setup_s", "failed_frac", "peak_rss_mb"],
        "query": ["pass_p50_s", "setup_s", "failed_frac", "peak_rss_mb"],
    }

    def run_bench(self, workload, trace):
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
             "--seconds", "1", "--trace", str(trace), "--smoke"],
            cwd=ROOT, capture_output=True, text=True, timeout=400)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        lines = proc.stdout.strip().splitlines()
        return json.loads(lines[-2]), json.loads(lines[-1])

    def test_every_workload_emits_every_metric(self):
        for name, spec in run.WORKLOADS.items():
            for trace, declared in ((0, run.END_TO_END), (1, run.PER_LAYER)):
                with self.subTest(workload=name, trace=trace):
                    detail, result = self.run_bench(name, trace)
                    self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(result["correct"], detail)
                    self.assertEqual(result["failed"], 0)
                    self.assertGreaterEqual(result["attempted"], 1)
                    got = {m: v["unit"] for m, v in result["metrics"].items()}
                    self.assertEqual(got, dict(declared))
                    for v in result["metrics"].values():
                        self.assertIsInstance(v["value"], (int, float))
                    for m in self.DETAIL_METRICS[spec["kind"]]:
                        self.assertIn("unit", detail["metrics"][m], m)
                    self.assertEqual(detail["metrics"]["failed_frac"]["value"], 0.0)
                    if trace == 0:
                        for m, _ in run.END_TO_END:
                            self.assertGreater(result["metrics"][m]["value"], 0, m)


if __name__ == "__main__":
    unittest.main()
