"""Self-test of the benchmark's own statistics.

    python3 perfbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # 1..100: p90 = 90 has exactly 10 samples above it; p95 has 5
        self.assertEqual(stats.tail(list(range(1, 101))), (90, "p90", 100))

    def test_ties_do_not_count_as_beyond(self):
        # 40 samples, top 10 tied: p75 = 30 has the 10 ties above it
        self.assertEqual(stats.tail(list(range(1, 31)) + [40] * 10), (30, "p75", 40))
        # top 11 tied: p75 lands on a tie with nothing strictly above
        self.assertEqual(stats.tail(list(range(1, 30)) + [40] * 11), (20, "p50", 40))

    def test_small_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, "max", 3))
        # 19 samples: p50 = 10 leaves only 9 beyond
        self.assertEqual(stats.tail(list(range(1, 20)))[1], "max")
        self.assertEqual(stats.tail(list(range(1, 21)))[1], "p50")

    def test_nearest_rank(self):
        s = [10, 20, 30, 40]
        self.assertEqual(stats.nearest_rank(s, 50), 20)
        self.assertEqual(stats.nearest_rank(s, 75), 30)
        self.assertEqual(stats.nearest_rank(s, 99.9), 40)


def raw_run(ops, written, disk, live):
    return {"ops": ops, "session_s": 2.0, "workload_setup_s": 3.0,
            "timed_bytes_written": written, "disk_bytes": disk,
            "live_csv_bytes": live, "heap_live_mb": 64.0}


def op(i, kind, ms, user_bytes=0, error=""):
    return {"id": i, "kind": kind, "name": kind, "ms": ms, "start_ms": 0, "end_ms": 0,
            "user_bytes": user_bytes, "error": error}


class Amplification(unittest.TestCase):
    def test_hand_sized_example(self):
        # two writes submit 100 + 300 user bytes; the store wrote 1000
        # bytes and holds 600 on disk for 200 bytes of live rows
        ops = [op(0, "write", 10.0, 100), op(1, "read", 4.0), op(2, "write", 30.0, 300),
               op(3, "read", 6.0)]
        m, notes = stats.end_to_end(raw_run(ops, written=1000, disk=600, live=200))
        self.assertEqual(m["write_amp"], (2.5, "ratio"))
        self.assertEqual(m["space_amp"], (3.0, "ratio"))
        self.assertEqual(notes["write_amp"], "1000 bytes written / 400 user bytes")
        self.assertEqual(m["setup_s"], (5.0, "s"))  # session + workload setup
        self.assertEqual(m["read_p50_ms"], (5.0, "ms"))
        self.assertEqual(m["write_p50_ms"], (20.0, "ms"))
        self.assertAlmostEqual(m["ops_per_s"][0], 4 / 0.05)

    def test_failed_ops_still_count_their_time_and_bytes(self):
        ops = [op(0, "write", 10.0, 100), op(1, "write", 90.0, 100, error="boom")]
        m, _ = stats.end_to_end(raw_run(ops, written=400, disk=1, live=1))
        self.assertEqual(m["write_amp"][0], 2.0)
        self.assertEqual(m["write_p50_ms"][0], 10.0)  # latency of completed ops only
        self.assertAlmostEqual(m["ops_per_s"][0], 1 / 0.1)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "op": 0, "name": name,
            "start_ns": start * 1_000_000, "end_ns": end * 1_000_000}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(0, -1, 0, 100),
                 span(1, 0, 10, 30), span(2, 0, 20, 50),   # overlapping children: 10..50
                 span(3, 0, 80, 90),
                 span(4, 1, 12, 14)]                        # grandchild: only its parent's time
        self.assertEqual(stats.self_times_ms(spans), {0: 50.0, 1: 18.0, 2: 30.0, 3: 10.0, 4: 2.0})

    def test_child_outside_parent_is_clipped(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 5, 20)]
        self.assertEqual(stats.self_times_ms(spans)[0], 5.0)

    def test_union(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_ms([]), 0.0)


if __name__ == "__main__":
    unittest.main()
