"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import random
import unittest

import stats


def op(kind, due, start, end, ok=True, samples=0, name="x", error=""):
    return [kind, name, due, start, end, 200 if ok else 500, ok, samples, error, ""]


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        value, pct, n = stats.tail(xs)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_eleven_samples_leave_ten_beyond_the_lowest(self):
        value, pct, n = stats.tail([float(x) for x in range(11)])
        self.assertEqual(value, 0.0)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_ten_or_fewer_samples_fall_back_to_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(stats.tail([]), (None, None, 0))


class Failures(unittest.TestCase):
    def raw(self, ops):
        return {"workload": "ingest", "ops": ops, "setup_s": [2.0, 1.0, 1.0], "boot_s": 4.0,
                "measure": {"start_ms": 0.0, "end_ms": 1000.0},
                "store": {"bytes": 100, "samples": 10}, "peak_rss_mb": 1.0}

    def test_failed_and_wrong_ops_are_counted_and_never_timed(self):
        good = [op("write", 0, 0, 100, samples=5), op("write", 100, 100, 300, samples=5),
                op("capacity", 300, 300, 400, samples=5),
                op("verify", 0, 400, 450), op("verify", 0, 450, 500)]
        # a fast failure and a fast wrong answer must not pull latency down
        bad = [op("write", 200, 200, 201, ok=False, samples=5),
               op("verify", 0, 500, 501, ok=False, error="check: count 3 != 4")]
        m0, attempted0, failed0, _ = stats.end_to_end(self.raw(good))
        m1, attempted1, failed1, _ = stats.end_to_end(self.raw(good + bad))
        self.assertEqual((len(attempted0), len(failed0)), (5, 0))
        self.assertEqual((len(attempted1), len(failed1)), (7, 2))
        self.assertEqual(m1["write_mean_ms"], m0["write_mean_ms"])
        self.assertEqual(m1["read_p50_ms"], m0["read_p50_ms"])
        self.assertEqual(m0["ok_share"][0], 1.0)
        self.assertAlmostEqual(m1["ok_share"][0], 5 / 7)

    def test_capacity_follows_the_batch_wall_time(self):
        # 4 writers drain the batch; only acknowledged samples count, and
        # halving every write's latency doubles the figure
        def batch(scale):
            return [op("capacity", 0, 0, 1000 * scale, samples=600),
                    op("capacity", 0, 0, 500 * scale, samples=300),
                    op("capacity", 0, 500 * scale, 2000 * scale, samples=100),
                    op("capacity", 0, 0, 700 * scale, ok=False, samples=50)]
        base = [op("write", 0, 0, 100, samples=5), op("verify", 0, 400, 450)]
        slow = stats.end_to_end(self.raw(base + batch(1)))[0]["ingest_samples_per_s"][0]
        fast = stats.end_to_end(self.raw(base + batch(0.5)))[0]["ingest_samples_per_s"][0]
        self.assertAlmostEqual(slow, 1000 / 2.0)
        self.assertAlmostEqual(fast, 2 * slow)

    def test_capacity_sums_the_walls_of_separate_batches(self):
        # two preload batches, 10 s apart: the gap between them is not counted
        def pre(start, end, tag):
            o = op("preload", start, start, end, samples=500)
            o[stats.TAG] = tag
            return o
        raw = dict(self.raw([pre(0, 1000, "setup2"), pre(0, 2000, "setup2"),
                             pre(12000, 13000, "setup3"), pre(12000, 14000, "setup3"),
                             op("read", 0, 20000, 20100)]), workload="dashboard")
        m = stats.end_to_end(raw)[0]
        self.assertAlmostEqual(m["ingest_samples_per_s"][0], 2000 / 4.0)
        self.assertAlmostEqual(m["write_mean_ms"][0], 1500.0)

    def test_open_loop_latency_counts_from_the_due_time(self):
        # sent 900 ms late behind a stalled sender: its latency includes the wait
        ops = [op("write", 0, 0, 1000), op("write", 100, 1000, 1100)]
        self.assertEqual(stats.latencies(ops, "write", True), [1000, 1000])
        self.assertEqual(stats.latencies(ops, "write", False), [1000, 100])


class SelfTimes(unittest.TestCase):
    def test_self_time_never_exceeds_the_span(self):
        rnd = random.Random(7)
        for _ in range(200):
            spans, next_id = [], 1
            for _ in range(rnd.randint(1, 5)):
                s = rnd.uniform(0, 100)
                root = [next_id, 0, 1, "http", "r", s, s + rnd.uniform(0, 50)]
                spans.append(root)
                next_id += 1
                for _ in range(rnd.randint(0, 6)):
                    # children may overlap each other and run past the parent
                    a = rnd.uniform(root[5] - 10, root[6] + 10)
                    spans.append([next_id, root[0], 1, "spark.store", "job", a,
                                  a + rnd.uniform(0, 30)])
                    next_id += 1
            st = stats.self_times(spans)
            for s in spans:
                self.assertGreaterEqual(st[s[0]], -1e-9)
                self.assertLessEqual(st[s[0]], s[6] - s[5] + 1e-9)

    def test_overlapping_children_are_counted_once(self):
        spans = [[1, 0, 1, "http", "r", 0.0, 100.0],
                 [2, 1, 1, "spark.http", "a", 10.0, 50.0],
                 [3, 1, 1, "spark.http", "b", 40.0, 60.0],
                 [4, 1, 1, "spark.http", "c", 90.0, 130.0]]
        self.assertAlmostEqual(stats.self_times(spans)[1], 100 - 50 - 10)
        per = stats.layer_self_ms(spans)
        self.assertAlmostEqual(per["http"], 40.0)
        self.assertAlmostEqual(per["spark"], 40 + 20 + 40)


if __name__ == "__main__":
    unittest.main()
