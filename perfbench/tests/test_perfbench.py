"""Tests of the benchmark harness's own logic (no Spark needed).

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest
from unittest import mock

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import digest  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def frame():
    return pd.DataFrame({
        "n": np.array([3, 1, 2], dtype=np.int64),
        "name": ["c", "a", "b"],
        "score": [0.5, -0.0, 1e-05],
        "ts": pd.to_datetime(["2024-01-03", "2024-01-01", "2024-01-02"]),
    })


class DigestTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        df = frame()
        shuffled = df.iloc[[2, 0, 1]][["ts", "score", "name", "n"]]
        self.assertEqual(digest.digest(df), digest.digest(shuffled))

    def test_one_changed_value_changes_the_digest(self):
        base = digest.digest(frame())
        for col, value in (("n", 4), ("name", "d"), ("score", 0.5000000001),
                           ("ts", pd.Timestamp("2024-01-04"))):
            changed = frame()
            changed.loc[1, col] = value
            self.assertNotEqual(base, digest.digest(changed), col)

    def test_sign_of_zero_and_dtype_kind_count(self):
        positive = frame()
        positive.loc[1, "score"] = 0.0
        self.assertNotEqual(digest.digest(frame()), digest.digest(positive))
        as_float = frame().astype({"n": np.float64})
        self.assertNotEqual(digest.digest(frame()), digest.digest(as_float))

    def test_row_count_is_part_of_the_digest(self):
        df = frame()
        doubled = pd.concat([df, df], ignore_index=True)
        self.assertTrue(digest.digest(doubled).startswith("6:"))
        self.assertNotEqual(digest.digest(df), digest.digest(doubled))

    def test_engine_output_and_oracle_digest_the_same_way(self):
        with tempfile.TemporaryDirectory() as d:
            frame().iloc[:2].to_parquet(os.path.join(d, "part-0.parquet"))
            frame().iloc[2:].to_parquet(os.path.join(d, "part-1.parquet"))
            self.assertEqual(digest.digest(digest.read_output(d)), digest.digest(frame()))


class DatagenTest(unittest.TestCase):
    def test_one_seed_gives_one_data_set(self):
        a, b, c = datagen.tables(0.001, 7), datagen.tables(0.001, 7), datagen.tables(0.001, 8)
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_corpus_shape_follows_the_test_data(self):
        t = datagen.tables(0.001, 7)
        self.assertEqual(t["lineitem"].num_rows, 6000)
        self.assertEqual(t["documents"].num_rows, datagen.CORPUS_FLOOR)
        self.assertEqual(t["embeddings"].num_rows, datagen.CORPUS_FLOOR)
        texts = t["documents"].column("text").to_pylist()
        self.assertEqual(sum(x.endswith(" dup") for x in texts), 25)
        vecs = np.stack(t["embeddings"].column("embedding").to_numpy(zero_copy_only=False))
        np.testing.assert_allclose(np.linalg.norm(vecs, axis=1), 1.0, rtol=1e-5)


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        values = list(range(1, 21))  # 20 samples
        self.assertEqual(metrics.percentile(values, 50), 10)  # 10 beyond
        self.assertIsNone(metrics.percentile(values, 55))  # 9 beyond
        self.assertIsNone(metrics.percentile(values, 75))

    def test_larger_samples_allow_higher_percentiles(self):
        values = list(range(40, 0, -1))
        self.assertEqual(metrics.percentile(values, 75), 30)  # 10 beyond
        self.assertIsNone(metrics.percentile(values, 90))
        self.assertEqual(metrics.percentile(list(range(100)), 90), 89)

    def test_no_percentile_for_none_or_empty(self):
        self.assertIsNone(metrics.percentile(list(range(50)), None))
        self.assertIsNone(metrics.percentile([], 50))


class SelfTimeTest(unittest.TestCase):
    def test_union_of_children_is_clipped_to_the_parent(self):
        # overlapping [10,30] and [20,50] cover 40; [90,120] covers 10 inside [0,100]
        self.assertEqual(metrics.covered_ms(0, 100, [(10, 30), (20, 50), (90, 120)]), 40 + 10)
        self.assertEqual(metrics.covered_ms(0, 100, []), 0)
        self.assertEqual(metrics.covered_ms(0, 100, [(150, 200), (None, 5)]), 0)

    def test_self_time_subtracts_direct_children_only(self):
        spans = [
            {"id": "op", "parent": None, "start_ms": 0.0, "end_ms": 100.0},
            {"id": "build", "parent": "op", "start_ms": 0.0, "end_ms": 60.0},
            {"id": "j1", "parent": "build", "start_ms": 10.0, "end_ms": 30.0},
            {"id": "j2", "parent": "build", "start_ms": 25.0, "end_ms": 40.0},
            {"id": "exec", "parent": "op", "start_ms": 60.0, "end_ms": 95.0},
            {"id": "j3", "parent": "exec", "start_ms": 61.0, "end_ms": 95.0},
        ]
        self_ms = metrics.self_times_ms(spans)
        self.assertEqual(self_ms["op"], 5.0)
        self.assertEqual(self_ms["build"], 30.0)
        self.assertEqual(self_ms["exec"], 1.0)
        self.assertEqual(self_ms["j1"], 20.0)


class RefusalTest(unittest.TestCase):
    def test_each_dev_switch_is_refused(self):
        for switch in run.DEV_SWITCHES:
            with self.assertRaises(run.Refused):
                run.refuse_dev_switches({switch: "1"})
        run.refuse_dev_switches({"SPARK_GRAFT_CPUS": "4"})

    def test_command_exits_non_zero_before_building(self):
        err = io.StringIO()
        with mock.patch.dict(os.environ, {"SPARK_GRAFT_ITER_AQE": "1"}), \
                mock.patch.object(run, "build") as build, contextlib.redirect_stderr(err):
            code = run.main(["--workload", "coding-session", "--seed", "1", "--seconds", "1"])
        self.assertEqual(code, 2)
        build.assert_not_called()
        self.assertIn("SPARK_GRAFT_ITER_AQE", err.getvalue())


class WrongAnswerTest(unittest.TestCase):
    """A deliberately wrong oracle digest must fail the command."""

    def results(self, out_dir):
        ops = [{"i": i, "warm": i == 0, "traced": False, "kind": "q1_demo", "cls": "query",
                "latency_s": 1.0 + i, "out": out_dir, "error": None} for i in range(3)]
        return {"ops": ops, "setup_s": 5.0, "session_s": 1.0, "timed_s": 3.0, "passes": 2,
                "heap_peak_mb": 10.0, "workload": {"oracle": {"q1_demo": "SELECT 1"}}}

    def run_report(self, oracle_digest):
        with tempfile.TemporaryDirectory() as d:
            frame().to_parquet(os.path.join(d, "part-0.parquet"))
            results = self.results(d)
            with mock.patch.object(digest, "oracle_digests", return_value={"q1_demo": oracle_digest}):
                errors = run.check_answers("registry-queries", results, d, d)
            out = io.StringIO()
            with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
                code = run.report("registry-queries", 1, results, errors, None, {}, 4)
        return code, out.getvalue().strip().splitlines()[-1]

    def test_right_digest_passes(self):
        code, last = self.run_report(digest.digest(frame()))
        self.assertEqual(code, 0)
        self.assertIn('"correct": true', last)
        self.assertIn('"failed": 0', last)

    def test_wrong_digest_fails_the_command(self):
        code, last = self.run_report("3:0000000000000000:0000000000000000")
        self.assertEqual(code, 1)
        self.assertIn('"correct": false', last)
        self.assertIn('"failed": 2', last)


if __name__ == "__main__":
    unittest.main()
