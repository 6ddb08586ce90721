"""Self-test of the benchmark's arithmetic: python3 -m unittest test_run
(run from perfbench/, or through `run.py --self-test`)."""

import unittest

import run


def result(**kw):
    base = {"workload": "typecast", "cores": 4, "rows": 1000, "session_s": 2.0,
            "gen_s": [1.0, 5.0, 2.0], "check_s": 3.0, "session_cpu_s": 4.0,
            "gen_cpu_s": [3.0, 1.0, 2.0], "check_cpu_s": 6.0, "peak_rss_mb": 900.0,
            "checks": [], "passes": [], "ops": []}
    base.update(kw)
    return base


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 51))  # 50 samples
        p, v = run.tail(xs)
        self.assertEqual(p, 80)
        self.assertEqual(v, 40)
        self.assertEqual(len([x for x in xs if x > v]), 10)

    def test_always_at_least_ten_beyond(self):
        for n in range(11, 400):
            xs = [float(i) for i in range(n)]
            p, v = run.tail(xs)
            self.assertGreaterEqual(len([x for x in xs if x > v]), 10, n)
            # the next whole percentile would leave fewer than ten
            nxt = int(-(-(p + 1) * n // 100))
            self.assertLess(n - nxt, 10 + 1, n)

    def test_eleven_samples(self):
        p, v = run.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 10, 11])
        self.assertEqual((p, v), (9, 1))

    def test_few_samples_report_the_maximum(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (100, 3.0))
        self.assertEqual(run.tail([float(i) for i in range(10)]), (100, 9.0))

    def test_order_does_not_matter(self):
        xs = [0.3 * ((i * 7919) % 101) for i in range(60)]
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))


class MetricTest(unittest.TestCase):
    def test_rows_per_s(self):
        self.assertEqual(run.rows_per_s(2_000_000, 17, 4.0), 8_500_000)

    def test_end_to_end(self):
        res = result(passes=[{"wall_s": 4.0, "cpu_s": 9.0}, {"wall_s": 6.0, "cpu_s": 7.0},
                             {"wall_s": 5.0, "cpu_s": 8.0}],
                     ops=[{"wall_s": w} for w in (1.0, 2.0, 3.0, 4.0)])
        m = run.end_to_end(res)
        self.assertEqual(m["cpu_s"], (9.0, "s"))  # the first measured pass
        self.assertEqual(m["setup_s"], (4.0 + 2.0 + 6.0, "s"))  # median of gen_cpu_s
        m = run.wall_times(res)
        self.assertEqual(m["wall_s"], (4.0, "s"))
        self.assertEqual(m["setup_wall_s"], (2.0 + 2.0 + 3.0, "s"))
        m, info = run.op_metrics(res)
        self.assertEqual(m["op_p50_s"], (2.5, "s"))
        self.assertEqual(m["op_tail_s"], (4.0, "s"))
        self.assertEqual(m["peak_rss_mb"], (900.0, "MB"))
        self.assertEqual(info, {"tail_percentile": 100, "op_samples": 4})

    def test_outcome_counts_check_and_measured_failures(self):
        res = result(checks=[{"ok": True}, {"ok": False}],
                     ops=[{"ok": True}, {"ok": True}, {"ok": False}])
        self.assertEqual(run.outcome(res), (False, 5, 2))
        self.assertEqual(run.outcome(result(checks=[{"ok": True}], ops=[{"ok": True}])),
                         (True, 2, 0))

    def test_per_layer(self):
        def op(p, traced, name, group, wall, task):
            o = {"pass": p, "traced": traced, "name": name, "group": group, "wall_s": wall}
            o.update({f: 1.0 for f, _, _ in run.LAYER_SUMS})
            o["task_s"] = task
            return o
        ops = [op(1, True, "to_float", "functions", 2.0, 4.0),
               op(1, True, "typecheck", "types", 1.0, 2.0),
               op(3, True, "to_float", "functions", 4.0, 8.0),
               op(3, True, "typecheck", "types", 1.0, 2.0),
               op(2, False, "to_float", "functions", 9.0, 0.0)]
        res = result(ops=ops, rows=1200, resolve_per_s=10.0, unattributed_jobs=0,
                     passes=[{"pass": 0, "traced": False, "wall_s": 9.0},
                             {"pass": 1, "traced": True, "wall_s": 3.5},
                             {"pass": 2, "traced": False, "wall_s": 3.0},
                             {"pass": 3, "traced": True, "wall_s": 4.5}])
        m = run.per_layer(res)
        self.assertEqual(m["exec.task_s"], (8.0, "s"))  # 16 s over two traced passes
        self.assertEqual(m["exec.util"], (16.0 / (4 * 8.0), "ratio"))
        self.assertEqual(m["functions.to_float.rows_per_s"], (1200 / 3.0, "rows/s"))
        self.assertEqual(m["types.typecheck.rows_per_s"], (1200.0, "rows/s"))
        self.assertEqual(m["trace.overhead_s"], (1.0, "s"))
        self.assertEqual(m["graph.q52_bfs_reach.wall_s"], (0.0, "s"))
        self.assertEqual(m["typecast.rows_per_s"], (1200 * run.N_PHASES / 3.0, "rows/s"))


if __name__ == "__main__":
    unittest.main()
