"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout. The end-to-end tests build and run the
harness (about a minute and a half each).
"""

import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")


def work_dir():
    os.makedirs(WORK, exist_ok=True)
    return tempfile.mkdtemp(dir=WORK)


ROWS = [(1, "o'brien, \"x\"", 1.25, "red", None), (2, "漢字", None, "blue", "n"), (3, "a", -2.0, "red", "b")]


class FingerprintTest(unittest.TestCase):
    def test_order_independent(self):
        shuffled = ROWS[:]
        random.Random(1).shuffle(shuffled)
        self.assertEqual(gen.fingerprint(gen.COLS, ROWS), gen.fingerprint(gen.COLS, shuffled))

    def test_one_wrong_value_differs(self):
        wrong = ROWS[:1] + [(2, "漢字", None, "blue", "m")] + ROWS[2:]
        self.assertNotEqual(gen.fingerprint(gen.COLS, ROWS), gen.fingerprint(gen.COLS, wrong))

    def test_one_extra_row_differs(self):
        self.assertNotEqual(gen.fingerprint(gen.COLS, ROWS), gen.fingerprint(gen.COLS, ROWS + ROWS[:1]))

    def test_column_names_count(self):
        renamed = ["id", "label", "amt", "cat", "note"]
        self.assertNotEqual(gen.fingerprint(gen.COLS, ROWS), gen.fingerprint(renamed, ROWS))


class GeneratorTest(unittest.TestCase):
    def gen_sync(self, seed):
        d = work_dir()
        try:
            spec = gen.gen_sync(d, seed)
            return {t: gen.sync_expected(spec, t, [1, 2, 3]) for t in spec["targets"]}
        finally:
            shutil.rmtree(d)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.gen_sync(5), self.gen_sync(5))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.gen_sync(5), self.gen_sync(6))

    def test_redelivered_stream_file_changes_nothing(self):
        d = work_dir()
        try:
            spec = gen.gen_sync(d, 3)
            self.assertEqual(gen.sync_expected(spec, "stream", [1, 2]),
                             gen.sync_expected(spec, "stream", [1, 2, -2]))
        finally:
            shutil.rmtree(d)

    def test_bulk_sizes_do_not_depend_on_seed(self):
        d1, d2 = work_dir(), work_dir()
        try:
            a, b = gen.gen_bulk(d1, 1), gen.gen_bulk(d2, 2)
            self.assertEqual(sorted(t["rows_in"] for t in a["tables"]),
                             sorted(t["rows_in"] for t in b["tables"]))
            self.assertNotEqual(a["expected"], b["expected"])
        finally:
            shutil.rmtree(d1)
            shutil.rmtree(d2)


class SummaryTest(unittest.TestCase):
    def test_bad_sync_target_fails_its_operations(self):
        result = {"windows": [{"ops": [{"label": "parquet/b0001"}, {"label": "stream/b0001"},
                                       {"label": "parquet/b0002"}]}]}
        self.assertEqual(run.summarize("migrate_sync", result, {"parquet"}), (3, 2))

    def test_bad_bulk_table_fails_its_copy(self):
        result = {"windows": [{"ops": [{"label": "csv_tx/t01_abcd"}, {"label": "merge/merged"}]}]}
        self.assertEqual(run.summarize("migrate_bulk", result, {"p0/csv_tx/t01_abcd"}), (2, 1))

    def test_kept_ratio_counts_only_deduplicated_copies(self):
        spec = {"tables": [{"db": "csv_txdd", "table": "t1", "group": "txdd", "rows_dedup_in": 200},
                           {"db": "csv_tx", "table": "t2", "group": "tx", "rows_dedup_in": 0}]}
        ops = [{"label": "csv_txdd/t1", "rows": 190}, {"label": "csv_tx/t2", "rows": 80}]
        self.assertAlmostEqual(run.dedup_kept_ratio(spec, ops), 0.95)
        self.assertEqual(run.dedup_kept_ratio({"targets": {}}, ops), 0.0)


def run_bench(workload, trace, env_extra, cwd=ROOT):
    env = dict(os.environ, **env_extra)
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "42", "--seconds", "1", "--trace", str(trace)],
                       cwd=cwd, env=env, capture_output=True, text=True, timeout=900)
    return p


class EndToEndTest(unittest.TestCase):
    def corrupted(self, workload):
        p = run_bench(workload, 1, {"PERFBENCH_CORRUPT": "1"})
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertGreater(res["failed"], 0)
        self.assertGreater(res["metrics"]["failed_ratio"]["value"], 0.0)

    def test_one_wrong_row_in_bulk_target_raises_failed_ratio(self):
        self.corrupted("migrate_bulk")

    def test_one_wrong_row_in_sync_target_raises_failed_ratio(self):
        self.corrupted("migrate_sync")

    def test_refuses_to_run_without_library_sources(self):
        d = work_dir()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__", "target"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "migrate_bulk",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
