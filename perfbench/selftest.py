"""Self-tests of the benchmark harness.

    python3 perfbench/selftest.py

Checks the generator, the oracle comparison and the metric names
without Spark, then runs ``run.py`` on ``ocr_web`` untraced and traced
and checks every metric is printed with its unit and nothing failed
(about two minutes on a 4-core machine).
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import oracle  # noqa: E402
import pandas as pd  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _digest(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def _write(self, d: str, seed: int) -> list[str]:
        docs = gen.documents(seed, 300, exact_dup_share=0.1, near_dup_share=0.1)
        paths = [os.path.join(d, f"documents{seed}.parquet"),
                 os.path.join(d, f"pages{seed}.parquet")]
        gen.write(docs, paths[0])
        gen.write(gen.pages(docs), paths[1])
        return paths

    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            first = [_digest(p) for p in self._write(a, 7)]
            again = [_digest(p) for p in self._write(b, 7)]
            other = [_digest(p) for p in self._write(b, 8)]
        self.assertEqual(first, again)
        for x, y in zip(first, other):
            self.assertNotEqual(x, y)

    def test_distribution_and_duplicate_shares(self):
        t = gen.documents(3, 4000, exact_dup_share=0.1, near_dup_share=0.1)
        texts = t.column("text").to_pylist()
        lens = [len(x.split(" ")) for x in texts if not x.endswith(" dup")]
        self.assertGreaterEqual(min(lens), 10)
        self.assertLessEqual(max(lens), 100)
        self.assertEqual(t.column("doc_id").to_pylist(), list(range(4000)))
        near = sum(x.endswith(" dup") for x in texts) / len(texts)
        exact = 1 - len(set(texts)) / len(texts)
        self.assertAlmostEqual(near, 0.1, delta=0.02)
        self.assertGreater(exact, 0.08)
        self.assertEqual(t.column("n_chars").to_pylist(), [len(x) for x in texts])

    def test_work_per_weight_class_is_seed_independent(self):
        def work(seed):
            t = gen.documents(seed, 1200, id_base=400)
            return sorted((gen.weight(d), len(x.split(" ")))
                          for d, x in zip(t.column("doc_id").to_pylist(),
                                          t.column("text").to_pylist())
                          if not x.endswith(" dup"))

        self.assertEqual(work(1), work(2))


class OracleTest(unittest.TestCase):
    """A corrupted output is counted against exactly the affected docs."""

    @classmethod
    def setUpClass(cls):
        from pero_ocr_spark import queries

        cls.tmp = tempfile.TemporaryDirectory()
        path = os.path.join(cls.tmp.name, "documents.parquet")
        gen.write(gen.documents(5, 40), path)
        o = oracle.Oracle(path)
        cls.want = o.expected(queries.oracle_sql()["extract_spans"], oracle.SPAN_COLS)
        o.close()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_exact_output_passes(self):
        got = self.want.sample(frac=1.0, random_state=1)  # row order is free
        self.assertEqual(oracle.failed_docs(got, self.want, oracle.SPAN_COLS), set())

    def test_dropped_span_fails_its_doc(self):
        got = self.want.drop(index=self.want.index[self.want["doc_id"] == 3][4])
        self.assertEqual(oracle.failed_docs(got, self.want, oracle.SPAN_COLS), {3})

    def test_swapped_ords_fail_their_doc(self):
        got = self.want.copy()
        rows = got.index[got["doc_id"] == 11][:2]
        got.loc[rows, "ord"] = got.loc[rows[::-1], "ord"].to_numpy()
        self.assertEqual(oracle.failed_docs(got, self.want, oracle.SPAN_COLS), {11})

    def test_pair_mismatch_fails_both_ends(self):
        pairs = pd.DataFrame({"doc_a": [1, 2], "doc_b": [5, 9], "jaccard": [0.9, 0.85]})
        got = pairs.iloc[:1]
        self.assertEqual(
            oracle.failed_docs(got, pairs, oracle.PAIR_COLS, ("doc_a", "doc_b")),
            {2, 9})


class MetricNamesTest(unittest.TestCase):
    def test_benchmark_json_matches_harness(self):
        import layers
        import run

        b = _bench()
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         layers.metric_units())


class PrintedOutputTest(unittest.TestCase):
    def _run(self, trace: int) -> tuple[dict, dict]:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "ocr_web", "--seed", "1", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
        ).stdout.strip().splitlines()
        return json.loads(out[-2])["info"], json.loads(out[-1])

    def test_every_metric_printed_with_unit(self):
        b = _bench()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            info, res = self._run(trace)
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"])
            want = {m["name"]: m["unit"] for m in b[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            self.assertEqual(got, want)
            for k in ("fail_frac", "peak_rss_mb", "loadavg_start", "loadavg_end",
                      "steal_frac", "stored_bytes_per_doc", "read_ms_p50",
                      "read_ms_p95", "reads"):
                self.assertIn(k, info)
            self.assertEqual(info["fail_frac"], {"value": 0.0, "unit": "ratio"})
            self.assertEqual(info["peak_rss_mb"]["unit"], "MB")


if __name__ == "__main__":
    unittest.main()
