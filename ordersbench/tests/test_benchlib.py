"""Unit tests of the benchmark's own logic.

    python3 -m unittest discover ordersbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

from benchlib import gen, oracle, stats  # noqa: E402
from benchlib.gen import FULFILLED, PLACED  # noqa: E402

BASE = gen.BASE_MS


def rec(due, oid, typ, ms):
    return {"due_s": due, "order_id": oid, "type": typ, "event_ms": ms, "key": str(oid)}


BAD = {"due_s": 0.0, "key": "bad", "value": "{"}


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(range(199), 0.95))
        self.assertIsNotNone(stats.percentile(range(200), 0.95))
        self.assertIsNone(stats.percentile(range(19), 0.50))
        self.assertIsNotNone(stats.percentile(range(20), 0.50))

    def test_nearest_rank(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.percentile(xs, 0.95), 190)
        self.assertEqual(stats.percentile(reversed(xs), 0.50), 100)

    def test_quartile_spread(self):
        self.assertAlmostEqual(stats.quartile_spread([10.0] * 10), 0.0)
        self.assertGreater(stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]), 0.0)


class WindowClosable(unittest.TestCase):
    def test_window_end_of_an_exact_boundary(self):
        self.assertEqual(stats.window_end(BASE), BASE + 60_000)
        self.assertEqual(stats.window_end(BASE + 59_999), BASE + 60_000)

    def test_event_exactly_at_end_plus_grace_closes(self):
        end = BASE + 60_000
        recs = [rec(0.0, 1, PLACED, BASE + 10), BAD,
                rec(1.0, 2, PLACED, end + 59_999),
                rec(2.0, 3, PLACED, end + 60_000)]
        self.assertEqual(stats.closable_due(recs, [end])[end], 2.0)

    def test_late_event_beyond_grace_closes_nothing(self):
        end = BASE + 60_000
        recs = [rec(0.0, 1, PLACED, end + 60_000),
                rec(1.0, 2, FULFILLED, BASE + 5)]  # arrives long after its window closed
        due = stats.closable_due(recs, [end, end + 60_000])
        self.assertEqual(due[end], 0.0)
        self.assertIsNone(due[end + 60_000])

    def test_samples_only_in_measured_span(self):
        sink = [[0, 100, 1, 5, 1500.0], [1, 100, 1, 5, 1700.0], [0, 200, 1, 5, 9000.0]]
        closable = {100: 1.0, 200: 8.5}
        self.assertEqual(stats.emit_samples(sink, closable, 0.5, 5.0), [700.0])
        self.assertEqual(stats.emit_samples(sink, closable, 0.5, 9.0), [700.0, 500.0])


class ExpectedLive(unittest.TestCase):
    def test_negative_processing_ms(self):
        recs = [rec(0.0, 7, FULFILLED, BASE + 1_000), rec(0.1, 7, PLACED, BASE + 4_000)]
        self.assertEqual(stats.expected_live(recs, 10),
                         {(7, BASE + 60_000): (1, -3_000)})

    def test_never_completed_and_malformed_emit_nothing(self):
        recs = [rec(0.0, 1, PLACED, BASE + 1_000), BAD,
                rec(0.2, 2, FULFILLED, BASE + 2_000),
                rec(0.3, 3, PLACED, BASE + 2_000), rec(0.4, 3, FULFILLED, BASE + 62_500)]
        self.assertEqual(stats.expected_live(recs, 10),
                         {(3, BASE + 120_000): (1, 60_500)})

    def test_pairs_sum_per_facility_window(self):
        recs = [rec(0.0, 1, PLACED, BASE), rec(0.0, 11, PLACED, BASE),
                rec(0.1, 1, FULFILLED, BASE + 10), rec(0.2, 11, FULFILLED, BASE + 30)]
        self.assertEqual(stats.expected_live(recs, 10), {(1, BASE + 60_000): (2, 40)})

    def test_pair_behind_the_grace_is_refused(self):
        recs = [rec(0.0, 1, PLACED, BASE), rec(0.1, 2, PLACED, BASE + 200_000),
                rec(0.2, 1, FULFILLED, BASE + 1_000)]
        with self.assertRaises(ValueError):
            stats.expected_live(recs, 10)


class CheckLive(unittest.TestCase):
    want = {(1, 60_000): (2, 40), (2, 60_000): (1, -5)}

    def test_exact_rows_pass(self):
        rows = [[1, 60_000, 2, 40, 1.0], [2, 60_000, 1, -5, 1.0]]
        self.assertEqual(stats.check_live(rows, self.want), (2, []))

    def test_planted_wrong_row_fails(self):
        rows = [[1, 60_000, 2, 41, 1.0], [2, 60_000, 1, -5, 1.0]]
        _, fails = stats.check_live(rows, self.want)
        self.assertEqual(len(fails), 1)

    def test_missing_duplicate_and_extra_rows_fail(self):
        rows = [[1, 60_000, 2, 40, 1.0], [1, 60_000, 2, 40, 2.0], [3, 60_000, 1, 1, 1.0]]
        attempted, fails = stats.check_live(rows, self.want)
        self.assertEqual(attempted, 3)
        self.assertEqual(len(fails), 3)


class Oracle(unittest.TestCase):
    def test_compare_rules(self):
        a = pd.DataFrame({"b": [1.0, None], "a": ["x", "y"]})
        self.assertIsNone(oracle.compare(a, pd.DataFrame({"a": ["x", "y"], "b": [1.0, None]})))
        self.assertIsNone(oracle.compare(a, pd.DataFrame({"a": ["x", "y"], "b": [1.0 + 1e-12, None]})))
        self.assertIsNotNone(oracle.compare(a, pd.DataFrame({"a": ["x", "z"], "b": [1.0, None]})))
        self.assertIsNotNone(oracle.compare(a, pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})))
        self.assertIsNotNone(oracle.compare(a, pd.DataFrame({"a": ["x"], "b": [1.0]})))

    def test_planted_wrong_oracle_result_fails(self):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"user_id": [1, 2], "n": [3, 4]}), f"{d}/events.parquet")
            os.mkdir(f"{d}/res")
            pq.write_table(pa.table({"user_id": [1, 2], "n": [3, 4]}), f"{d}/res/part.parquet")
            con = oracle.connect(d)
            self.assertIsNone(oracle.check_key(con, "SELECT * FROM events ORDER BY 1", f"{d}/res"))
            self.assertIsNotNone(oracle.check_key(
                con, "SELECT user_id, n + 1 AS n FROM events ORDER BY 1", f"{d}/res"))
            self.assertIsNotNone(oracle.check_key(con, None, f"{d}/res"))
            self.assertIsNotNone(oracle.check_key(con, "SELECT nope FROM events", f"{d}/res"))


class Command(unittest.TestCase):
    """``run.main`` end to end on orders_live, with the build and the JVM
    replaced by a stand-in that emits the expected rows (or one wrong)."""

    def run_command(self, plant):
        import contextlib
        import io
        import run
        knobs = json.loads((BENCH / "workloads.json").read_text())
        knobs["orders_live"].update(settle_s=1, burst_s=2)
        k = knobs["orders_live"]

        def fake_jvm(work, deadline):
            sched = gen.live_schedule(3, k, 10)
            expected = stats.expected_live(sched, k["facilities"])
            due = stats.closable_due(sched, sorted({e for _, e in expected}))
            rows = [[f, e, n, s, (due[e] or 99.0) * 1000.0 + 400.0]
                    for (f, e), (n, s) in sorted(expected.items())]
            if plant:
                rows[0][3] += 1
            main = {"sink": rows, "bursts": [[1000, 0.1]] * k["bursts"],
                    "late_ms": {"max": 0.0, "p99": 0.0, "mean": 0.0}, "triggers": []}
            return {"setup_s": [2.0, 0.5, 0.6], "retained_heap_mb": 100.0, "main": main}

        with tempfile.TemporaryDirectory() as d:
            (Path(d) / "workloads.json").write_text(json.dumps(knobs))
            saved = run.BENCH, run.TARGET, run.build, run.run_jvm
            run.BENCH, run.TARGET, run.build, run.run_jvm = Path(d), Path(d) / "t", (
                lambda: None), fake_jvm
            out, err = io.StringIO(), io.StringIO()
            try:
                with contextlib.redirect_stdout(out), contextlib.redirect_stderr(err):
                    rc = run.main(["--workload", "orders_live", "--seed", "3",
                                   "--seconds", "10", "--trace", "0"])
            finally:
                run.BENCH, run.TARGET, run.build, run.run_jvm = saved
        return rc, json.loads(out.getvalue().strip().splitlines()[-1]), err.getvalue()

    def test_correct_rows_exit_zero(self):
        rc, result, _ = self.run_command(plant=False)
        self.assertEqual((rc, result["correct"], result["failed"]), (0, True, 0))

    def test_planted_wrong_row_fails_the_command(self):
        rc, result, err = self.run_command(plant=True)
        self.assertEqual((rc, result["correct"], result["failed"]), (1, False, 1))
        self.assertIn("FAIL window", err)


class Generators(unittest.TestCase):
    knobs = json.loads((BENCH / "workloads.json").read_text())

    def test_same_seed_same_inputs(self):
        k = self.knobs["orders_live"]
        self.assertEqual(gen.live_schedule(5, k, 1), gen.live_schedule(5, k, 1))
        self.assertNotEqual(gen.live_schedule(5, k, 1), gen.live_schedule(6, k, 1))
        k = dict(self.knobs["corpus_cycle"], documents=40, vectors=40)
        self.assertTrue(gen.corpus_tables(5, k)[0].equals(gen.corpus_tables(5, k)[0]))

    def test_live_traffic_stays_clear_of_the_grace(self):
        k = self.knobs["orders_live"]
        sched = gen.live_schedule(3, k, 2)
        exp = stats.expected_live(sched, k["facilities"])
        self.assertTrue(any(s < 0 for _, s in exp.values()))
        self.assertTrue(any("event_ms" not in r for r in sched))
        self.assertEqual([r["due_s"] for r in sched], sorted(r["due_s"] for r in sched))


if __name__ == "__main__":
    unittest.main()
