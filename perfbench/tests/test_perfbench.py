"""Tests of the benchmark's own rules. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402
import sampler  # noqa: E402
from run import MODULES  # noqa: E402


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(M.tail_percentile(19))
        self.assertEqual(M.tail_percentile(20), 50)
        self.assertEqual(M.tail_percentile(99), 75)
        self.assertEqual(M.tail_percentile(100), 90)
        self.assertEqual(M.tail_percentile(199), 90)
        self.assertEqual(M.tail_percentile(200), 95)
        self.assertEqual(M.tail_percentile(1000), 99)
        self.assertEqual(M.tail_percentile(10000), 99.9)

    def test_summary_reports_tail_only_when_supported(self):
        s = M.summary(list(range(0, 101)))
        self.assertEqual((s["n"], s["p50"], s["tail_p"], s["tail"]), (101, 50, 90, 90))
        self.assertNotIn("tail", M.summary(list(range(30))))

    def test_geomean_weighs_every_query_the_same(self):
        self.assertAlmostEqual(M.geomean([100.0, 400.0]), 200.0)
        # Doubling any one of four queries moves it by 2^(1/4), whichever.
        self.assertAlmostEqual(M.geomean([10.0, 20.0, 40.0, 160.0]) * 2 ** 0.25,
                               M.geomean([20.0, 20.0, 40.0, 160.0]))
        self.assertAlmostEqual(M.geomean([10.0, 20.0, 40.0, 160.0]) * 2 ** 0.25,
                               M.geomean([10.0, 20.0, 40.0, 320.0]))

    def test_interpolated_quantile(self):
        self.assertEqual(M.quantile([5, 1, 3], 0.5), 3)
        self.assertEqual(M.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(M.quantile([0, 10], 0.9), 9)


class StealFree(unittest.TestCase):
    @staticmethod
    def cpu(busy, idle, steal):
        return [busy, 0, 0, idle, 0, 0, 0, steal, 0, 0]

    def test_steal_share_of_runnable_time_between_bracketing_readings(self):
        ticks = [(0.0, self.cpu(0, 0, 0)), (100.0, self.cpu(50, 300, 0)),
                 (200.0, self.cpu(80, 600, 20)), (300.0, self.cpu(130, 900, 20))]
        # Idle time does not dilute it: 20 stolen of 30 busy + 20 stolen.
        self.assertAlmostEqual(M.steal_share(ticks, 100.0, 200.0), 0.4)
        # An interval inside two readings takes the readings around it.
        self.assertAlmostEqual(M.steal_share(ticks, 120.0, 180.0), 0.4)
        self.assertAlmostEqual(M.steal_share(ticks, 100.0, 300.0), 0.2)
        self.assertEqual(M.steal_share(ticks, 200.0, 300.0), 0.0)

    def test_steal_free_time(self):
        ticks = [(0.0, self.cpu(0, 0, 0)), (1000.0, self.cpu(90, 300, 10))]
        self.assertAlmostEqual(M.steal_free(500.0, ticks, 0.0, 500.0), 450.0)
        self.assertEqual(M.steal_free(500.0, ticks[:1], 0.0, 500.0), 500.0)


class LatencyFromDueTime(unittest.TestCase):
    def test_measured_from_due_not_from_write(self):
        # File 1 was due at 1000 but the generator only wrote it at 1300;
        # the batch covering it ends at 1500: latency is 500, not 200.
        due = [0.0, 1000.0]
        batches = [(0, 1, 250.0), (1, 2, 1500.0)]
        self.assertEqual(M.file_latencies(due, batches), [250.0, 500.0])

    def test_stall_charges_every_waiting_file(self):
        # One batch admits three backlogged files: each is charged from its
        # own due time to that batch's end.
        due = [0.0, 100.0, 200.0]
        self.assertEqual(M.file_latencies(due, [(0, 3, 900.0)]), [900.0, 800.0, 700.0])

    def test_first_covering_batch_wins_and_missing_files_are_none(self):
        due = [0.0, 100.0, 200.0]
        batches = [(0, 1, 50.0), (0, 2, 400.0)]   # a retried range re-covers file 0
        self.assertEqual(M.file_latencies(due, batches), [50.0, 300.0, None])


class DriverGap(unittest.TestCase):
    def test_union_of_overlapping_jobs(self):
        self.assertEqual(M.union_length([(10, 30), (20, 50), (70, 80)]), 50)
        self.assertEqual(M.union_length([]), 0)

    def test_gap_is_wall_minus_clipped_union(self):
        jobs = [(10, 30), (20, 50), (70, 80), (90, 120)]
        # covered: [10,50] + [70,80] + [90,100] = 60 of a 100 ms op
        self.assertEqual(M.driver_gap(0, 100, jobs), 40)
        self.assertEqual(M.driver_gap(0, 100, []), 100)

    def test_self_times(self):
        spans = [{"id": "a", "parent": None, "name": "op", "start_ms": 0, "end_ms": 100},
                 {"id": "b", "parent": "a", "name": "job", "start_ms": 10, "end_ms": 40},
                 {"id": "c", "parent": "a", "name": "job", "start_ms": 30, "end_ms": 60}]
        self.assertEqual(M.self_times(spans), {"op": 50, "job": 60})


class Determinism(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            names = gen.make_fixture(a, 7, sf=0.001)
            gen.make_fixture(b, 7, sf=0.001)
            gen.make_fixture(c, 8, sf=0.001)
            self.assertEqual(len(names), 10)
            for n in names:
                p = n + ".parquet"
                self.assertEqual(digest(os.path.join(a, p)), digest(os.path.join(b, p)), n)
            self.assertNotEqual(digest(os.path.join(a, "lineitem.parquet")),
                                digest(os.path.join(c, "lineitem.parquet")))
            for i in range(3):
                gen.write_stream_file(7, i, a, "s%d" % i)
                gen.write_stream_file(7, i, b, "s%d" % i)
                self.assertEqual(digest(os.path.join(a, "s%d" % i)),
                                 digest(os.path.join(b, "s%d" % i)))
        self.assertEqual(gen.cow_statements(7, 200, 1000), gen.cow_statements(7, 200, 1000))
        self.assertNotEqual(gen.cow_statements(7, 200, 1000), gen.cow_statements(8, 200, 1000))

    def test_subset_matches_full_fixture(self):
        with tempfile.TemporaryDirectory() as d:
            gen.make_fixture(os.path.join(d, "all"), 3, sf=0.001)
            gen.make_fixture(os.path.join(d, "ev"), 3, sf=0.001, tables=["events"])
            self.assertEqual(digest(os.path.join(d, "all", "events.parquet")),
                             digest(os.path.join(d, "ev", "events.parquet")))

    def test_late_rows_stay_inside_the_watermark(self):
        prev_max = None
        for i in range(6):
            ts = gen.stream_file(5, i).column("ts").to_pylist()
            if prev_max is not None:
                self.assertGreater(min(ts), prev_max - 10 * gen.MINUTE_US)
            prev_max = max(ts) if prev_max is None else max(prev_max, max(ts))

    def test_stratified_panel_covers_every_module(self):
        registry = {"q_%s_%d" % (m.lower(), i): {"module": m, "oracle": None}
                    for m in MODULES for i in range(1 + len(m) % 4)}
        panel = sampler.mix_panel(registry, 0, 1)
        self.assertEqual(sorted(registry[q]["module"] for q in panel), sorted(MODULES))
        self.assertEqual(panel, sampler.mix_panel(registry, 0, 1))
        self.assertEqual(len(sampler.mix_panel(registry, 0, 2)),
                         sum(min(2, 1 + len(m) % 4) for m in MODULES))


class Checks(unittest.TestCase):
    def test_stream_check_matches_closed_sessions_only(self):
        batch = [(1, 0, 100, 2, 3.0), (1, 500, 600, 1, 1.0), (2, 10, 90, 1, 2.0)]
        self.assertEqual(checks.check_stream([(1, 0, 100, 2, 3.0), (2, 10, 90, 1, 2.0)],
                                             batch, 200), [])
        bad = checks.check_stream([(1, 0, 100, 2, 3.0)], batch, 200)
        self.assertEqual([m for _, m in bad], ["missing from stream"])
        dup = checks.check_stream([(1, 0, 100, 2, 3.0)] * 2 + [(2, 10, 90, 1, 2.0)], batch, 200)
        self.assertEqual([m for _, m in dup], ["emitted more than once"])

    def test_cow_replay(self):
        base = [{"event_id": k, "ts": k, "user_id": 10 + k, "event_type": "view",
                 "value": 1.0, "props": "{}"} for k in range(3)]
        stmts = [{"kind": "merge", "upsert": [dict(base[1], user_id=99),
                                             dict(base[0], event_id=7)]},
                 {"kind": "delete", "delete": [2]},
                 {"kind": "range", "lo": 0, "hi": 10},
                 {"kind": "point", "lo": 2, "hi": 2}]
        rows, reads = checks.replay_cow(base, stmts)
        self.assertEqual(sorted(rows), [0, 1, 7])
        self.assertEqual(rows[1][1], 99)
        self.assertEqual(reads, {3: "3,8,119", 4: "0,null,null"})


if __name__ == "__main__":
    unittest.main()
