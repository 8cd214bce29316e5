"""Pins the span arithmetic of metrics.py on synthetic intervals.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import random
import unittest

import metrics


def job(i, query, start, end):
    return {"id": i, "query": query, "start": start, "end": end}


def stage(i, query, jobid, start, end, tasks, **sums):
    return dict({"id": i, "attempt": 0, "query": query, "job": jobid,
                 "start": start, "end": end, "tasks": tasks}, **sums)


def query(qid, t0, tb, tp, t1, error=None, **stats):
    q = {"id": qid, "name": qid.split(":")[-1], "t0": t0, "t_built": tb,
         "t_planned": tp, "t1": t1, "wall_s": (t1 - t0) / 1000, "error": error}
    q.update(dict.fromkeys(metrics.PLAN_STATS, 0.0))
    q.update(stats)
    return q


class UnionTest(unittest.TestCase):
    def test_disjoint_touching_nested_and_empty(self):
        self.assertEqual(metrics.union_ms([]), 0.0)
        self.assertEqual(metrics.union_ms([(0, 10), (20, 25)]), 15)
        self.assertEqual(metrics.union_ms([(0, 10), (10, 20)]), 20)
        self.assertEqual(metrics.union_ms([(0, 100), (10, 20), (30, 40)]), 100)
        # a zero-length or inverted interval (job without an end) adds nothing
        self.assertEqual(metrics.union_ms([(5, 5), (9, 3)]), 0.0)

    def test_ann_recall_overlap(self):
        # the measured case: summed job time 6.1 s inside a 3.8 s wall;
        # the union counts overlapping jobs once
        jobs = [(0, 2500), (300, 2400), (2600, 3800), (3000, 3300)]
        self.assertAlmostEqual(sum(e - s for s, e in jobs), 6100)
        wall = 3800
        union = metrics.union_ms(jobs)
        self.assertEqual(union, 3700)
        self.assertLessEqual(union, wall)
        self.assertAlmostEqual(metrics.gap_ms(0, wall, jobs), wall - union)

    def test_invariants_on_random_intervals(self):
        rnd = random.Random(7)
        for _ in range(500):
            lo = rnd.uniform(0, 100)
            hi = lo + rnd.uniform(0, 500)
            ivs = []
            for _ in range(rnd.randrange(0, 12)):
                s = rnd.uniform(lo - 50, hi + 50)
                ivs.append((s, s + rnd.uniform(0, 200)))
            inside = metrics.clip(ivs, lo, hi)
            union = metrics.union_ms(inside)
            wall = hi - lo
            self.assertGreaterEqual(union, 0.0)
            self.assertLessEqual(union, wall + 1e-9)
            self.assertLessEqual(union, sum(e - s for s, e in inside) + 1e-9)
            self.assertAlmostEqual(metrics.gap_ms(lo, hi, ivs), wall - union)

    def test_union_is_monotone_as_jobs_arrive(self):
        rnd = random.Random(11)
        ivs, last = [], 0.0
        for _ in range(200):
            s = rnd.uniform(0, 1000)
            ivs.append((s, s + rnd.uniform(0, 50)))
            u = metrics.union_ms(ivs)
            self.assertGreaterEqual(u, last)
            last = u


class QueryLayersTest(unittest.TestCase):
    def test_phases_gap_and_counters(self):
        q = query("1:0:q", 1000, 1100, 1150, 2000, nodes=12.0)
        jobs = [job(1, "1:0:q", 1050, 1090),       # eager job while building
                job(2, "1:0:q", 1200, 1500),
                job(3, "1:0:q", 1400, 1700)]
        stages = [stage(1, "1:0:q", 1, 1055, 1085, 1, input_records=10, input_bytes=100),
                  stage(2, "1:0:q", 2, 1210, 1490, 4, run_ms=800, shuffle_write_bytes=64),
                  stage(3, "1:0:q", 3, 1410, 1690, 1, input_records=5, input_bytes=50)]
        v, self_ms = metrics.query_layers(q, jobs, stages)
        self.assertEqual(v["build_ms"], 100)
        self.assertEqual(v["build_jobs"], 1)
        self.assertEqual(v["jobs"], 3)
        self.assertEqual(v["stages"], 3)
        self.assertEqual(v["tasks"], 6)
        self.assertEqual(v["job_union_ms"], 40 + 500)       # 1050..1090, 1200..1700
        self.assertEqual(v["driver_gap_ms"], 1000 - 540)    # query wall 1000..2000
        self.assertEqual(v["scan_ms"], 30 + 280)
        self.assertEqual(v["serial_scan_ms"], 30 + 280)     # both scans ran one task
        self.assertEqual(v["input_records"], 15)
        self.assertEqual(v["run_ms"], 800)
        self.assertEqual(v["nodes"], 12.0)
        self.assertEqual(self_ms["build"] + self_ms["plan"] + self_ms["exec"],
                         v["driver_gap_ms"])
        self.assertEqual(self_ms["build"], 100 - 40)
        self.assertEqual(self_ms["job"] + self_ms["stage"], v["job_union_ms"])
        wall = q["t1"] - q["t0"]
        self.assertGreaterEqual(wall, v["job_union_ms"])
        self.assertGreaterEqual(v["job_union_ms"], 0)

    def test_pass_sums_and_reuse_ratio(self):
        qs = [query("0:0:a", 0, 10, 20, 100), query("0:1:b", 100, 110, 120, 300)]
        p = {"pass": 0, "queries": qs, "persisted_rdds": 8, "new_persisted": 2,
             "heap_mb": 300.0, "artifacts_built": 3, "disk_mb": 1.5, "staging_left": 0}
        jobs = {"0:0:a": [job(1, "0:0:a", 30, 60)], "0:1:b": [job(2, "0:1:b", 150, 250)]}
        v, self_ms = metrics.pass_layers(p, jobs, {})
        self.assertEqual(v["jobs"], 2)
        self.assertEqual(v["job_union_ms"], 130)
        self.assertEqual(v["driver_gap_ms"], (100 - 30) + (200 - 100))
        self.assertEqual(v["reuse_ratio"], 0.75)
        self.assertEqual(v["artifacts_built"], 3)
        self.assertEqual(self_ms["build"] + self_ms["plan"] + self_ms["exec"],
                         v["driver_gap_ms"])


class RunTest(unittest.TestCase):
    def run_output(self):
        passes = []
        for p, walls in enumerate([[3.0, 5.0], [1.0, 2.0], [1.2, 2.2], [0.8, 1.8]]):
            t, qs = 0.0, []
            for i, w in enumerate(walls):
                q = query(f"{p}:{i}:q{i}", t, t + 1, t + 2, t + w * 1000)
                q["fingerprint"] = {"rows": 3, "schema": "a:int", "hash": 7}
                qs.append(q)
                t += w * 1000
            passes.append({"pass": p, "kind": "cold" if p == 0 else "warm",
                           "wall_s": sum(walls), "queries": qs})
        return {"setup_s": [9.0, 4.0, 5.0], "passes": passes, "resident_mb": 12.5}

    def test_end_to_end(self):
        e2e, lat = metrics.end_to_end(self.run_output())
        self.assertEqual(lat["samples"], 6)
        self.assertEqual(e2e["setup_s"], 9.0)
        self.assertEqual(lat["setup_restart_s"], 4.5)
        self.assertEqual(e2e["cold_s"], 8.0)
        self.assertEqual(e2e["warm_s"], 3.0)
        self.assertAlmostEqual(lat["query_p50_s"], 1.5)
        self.assertLessEqual(lat["query_p50_s"], lat["query_p90_s"])
        self.assertEqual(lat["supported_percentile"], 0)
        self.assertEqual(e2e["resident_mb"], 12.5)

    def test_check_counts_errors_and_mismatches(self):
        out = self.run_output()
        good = {"rows": 3, "schema": "a:int", "hash": 7}
        expected = {"q0": good, "q1": dict(good)}
        self.assertEqual(metrics.check(out, expected, [0, 1]), (8, []))
        expected["q1"] = dict(good, hash=8)
        out["passes"][3]["queries"][0]["error"] = "boom"
        attempted, failures = metrics.check(out, expected, [0, 1])
        self.assertEqual(attempted, 8)
        self.assertEqual(len(failures), 3)   # q1 twice, the error once
        # shape-only expectations ignore the hash
        expected["q1"] = {"rows": 3, "schema": "a:int"}
        self.assertEqual(len(metrics.check(out, expected, [0, 1])[1]), 1)

    def test_supported_percentile(self):
        self.assertEqual(metrics.supported_percentile(100), 90)
        self.assertEqual(metrics.supported_percentile(60), 83)
        self.assertEqual(metrics.supported_percentile(10), 0)


if __name__ == "__main__":
    unittest.main()
