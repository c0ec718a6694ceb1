"""Tests of the benchmark's own arithmetic and generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import os
import tempfile
import unittest

import compare
import gen
import stats


def _pass(label="warm1", traced=False, wall=2.0, keys=(), jobs=(), streams=(), **counters):
    c = dict.fromkeys(["jobs", "stages", "tasks", "task_ms", "shuffle_read_b",
                       "shuffle_write_b", "spill_b", "result_b", "records_read"], 0)
    c.update(counters)
    return {"label": label, "traced": traced, "wall_s": wall, "cpu_s": 1.0, "gc_s": 0.1,
            "codegen_compiles": 0, "codegen_s": 0.0,
            "files": {"files_read": 0, "bytes_read": 0, "files_written": 0, "bytes_written": 0},
            "counters": c, "keys": list(keys), "jobs": list(jobs), "streams": list(streams),
            "actions": 0}


def _key(name, total, rows=1, error=None, observed=None, start=0.0):
    return {"key": name, "build_s": total / 4, "plan_s": total / 4, "exec_s": total / 2,
            "total_s": total, "cpu_s": 2 * total, "rows": rows, "error": error, "observed": observed or {},
            "start_ms": start, "end_ms": start + total * 1e3}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # p90 has exactly 10 samples above its rank
        self.assertEqual(stats.tail(xs), (90, 90.0, 100))

    def test_below_p90_the_tail_is_the_maximum(self):
        self.assertEqual(stats.tail(list(range(99))), (98, 100.0, 99))
        self.assertEqual(stats.tail(list(range(1000))), (989, 99.0, 1000))

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))

    def test_order_does_not_matter(self):
        xs = [float(i % 37) for i in range(200)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs, reverse=True)))


class KeyMedianTest(unittest.TestCase):
    def test_a_slow_pass_drops_out_of_every_key(self):
        ws = [_pass(keys=[_key("q1", 1.0), _key("t9", 2.0)]),
              _pass(keys=[_key("q1", 5.0), _key("t9", 9.0)]),  # a burst of host noise
              _pass(keys=[_key("q1", 1.2), _key("t9", 2.2)])]
        self.assertEqual(stats.key_medians(ws), {"q1": 1.2, "t9": 2.2})
        self.assertAlmostEqual(stats.typical_pass_s(ws), 3.4)
        res = {"passes": [_pass("cold", keys=[_key("q1", 3.0), _key("t9", 4.0)])] + ws,
               "setups": [{"session_s": 1, "warmup_s": 1, "reads_s": 1}], "boot_s": 0.5,
               "peak_rss_mb": 100.0}
        m, extra = stats.end_to_end(res, 8, 0)
        self.assertAlmostEqual(m["warm_pass_s"][0], 3.4)
        self.assertAlmostEqual(m["query_p50_s"][0], (1.2 + 2.2) / 2)
        self.assertAlmostEqual(m["query_tail_s"][0], 2.2)
        self.assertAlmostEqual(m["cpu_s"][0], 6.8)
        self.assertEqual(extra["query_tail_key"], "t9")
        self.assertEqual((extra["pooled_tail_s"], extra["query_samples"]), (9.0, 6))

    def test_stream_rows_per_second_of_the_stream_keys(self):
        def p(st3, q1):
            return _pass(keys=[_key("st3_x", st3), _key("q1", q1)],
                         streams=[{"key": "st3_x", "input_rows": 100}])
        res = {"passes": [_pass("cold"), p(2.0, 1.0), p(1.0, 9.0), p(4.0, 1.0)],
               "setups": [{"session_s": 1, "warmup_s": 1, "reads_s": 1}], "boot_s": 0.5,
               "peak_rss_mb": 100.0}
        m, _ = stats.end_to_end(res, 6, 0)
        self.assertAlmostEqual(m["ingest_rows_per_s"][0], 100 / 2.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_and_clip(self):
        spans = [{"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 10.0},
                 {"id": 2, "parent": 1, "start_ms": 1.0, "end_ms": 3.0},
                 {"id": 3, "parent": 1, "start_ms": 2.0, "end_ms": 5.0},
                 {"id": 4, "parent": 1, "start_ms": 8.0, "end_ms": 12.0}]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10 - (4 + 2))  # [1,5] and the clipped [8,10]
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[4], 4.0)

    def test_union(self):
        self.assertEqual(stats.union_ms([(0, 1), (0.5, 2), (3, 4)]), 3.0)
        self.assertEqual(stats.union_ms([]), 0.0)


class RatioTest(unittest.TestCase):
    def test_empty_base_is_zero(self):
        self.assertEqual(stats.div(5, 0), 0.0)

    def test_core_busy_and_yield_bases(self):
        p = _pass(traced=True, wall=2.0, task_ms=4000,
                  keys=[_key("d3_x", 1.0, observed={"d3.candidates.n_candidates": 200.0,
                                                    "d3.pairs_out.n_pairs": 50.0})])
        m = stats._pass_layers(p, cores=4, spans_by_pass={})
        self.assertAlmostEqual(m["engine.core_busy"], 4.0 / (2.0 * 4))
        self.assertAlmostEqual(m["operators.dedup.pair_yield"], 0.25)
        self.assertAlmostEqual(m["operators.dedup.exec_s"], 1.0)

    def test_driver_gap_is_wall_minus_job_union(self):
        jobs = [{"start_ms": 0.0, "end_ms": 500.0, "phase": None},
                {"start_ms": 250.0, "end_ms": 750.0, "phase": "guard"}]
        m = stats._pass_layers(_pass(traced=True, wall=2.0, jobs=jobs), 4, {})
        self.assertAlmostEqual(m["engine.driver_gap_s"], 2.0 - 0.75)
        self.assertEqual(m["streaming.phase.guard_jobs"], 1)

    def test_drain_figures_come_from_the_last_drain_run(self):
        jobs = [{"start_ms": 100.0, "end_ms": 300.0, "phase": "absorb"},
                {"start_ms": 5100.0, "end_ms": 5200.0, "phase": "absorb"},
                {"start_ms": 5300.0, "end_ms": 5400.0, "phase": "probe"}]
        streams = [{"start_ms": 5050.0, "input_rows": 10}, {"start_ms": 5250.0, "input_rows": 5}]
        p = _pass("probe", traced=True, jobs=jobs, streams=streams,
                  keys=[_key("st9_x", 2.0), _key("d3_x", 1.0, start=2000.0),
                        _key("st9_x", 1.0, start=5000.0)])
        m = stats._drain(p)
        self.assertEqual(m["streaming.drain_s"], 1.0)
        self.assertEqual(m["streaming.drain_batches"], 2)
        self.assertEqual(m["streaming.drain_jobs_per_batch"], 1.0)
        self.assertAlmostEqual(m["streaming.phase.absorb_s"], 0.1)
        self.assertEqual(m["streaming.phase.probe_jobs"], 1)

    def test_iqr_share(self):
        self.assertAlmostEqual(stats.iqr_share([1, 2, 3, 4, 5]), (4.5 - 1.5) / 3)

    def test_failures_count_against_attempts_with_their_time(self):
        res = {"passes": [_pass("cold", keys=[_key("q1", 1.0, 6), _key("q3", 2.0, 5)]),
                          _pass("warm1", keys=[_key("q1", 0.5, 6), _key("q3", 0.1, -1, "boom")]),
                          _pass("warm2", keys=[_key("q1", 0.5, 7), _key("q3", 1.0, 5)])],
               "setups": [{"session_s": 1, "warmup_s": 1, "reads_s": 1}], "boot_s": 0.5,
               "peak_rss_mb": 100.0}
        attempted, failures = stats.ledger(res, {})
        self.assertEqual(attempted, 6)
        self.assertEqual([(f["pass"], f["key"]) for f in failures],
                         [("warm1", "q3"), ("warm2", "q1")])
        self.assertEqual(failures[0]["seconds"], 0.1)
        m, _ = stats.end_to_end(res, attempted, len(failures))
        self.assertAlmostEqual(m["ok_ratio"][0], 4 / 6)
        self.assertAlmostEqual(m["setup_s"][0], 3.5)
        _, oracle_failures = stats.ledger(res, {"q1": "row 0 differs"})
        self.assertEqual(len(oracle_failures), 4)  # every q1 run, plus the q3 error


class CompareTest(unittest.TestCase):
    def test_gain_needs_nine_tenths_and_a_gap_beyond_the_iqr(self):
        parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        change = [x - 1.0 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "gain")
        self.assertEqual(compare.verdict(parent, change, "higher", 0.05)[0], "regression")
        self.assertEqual(compare.verdict(parent[:5], change[:5], "lower", 0.1)[0], "same")

    def test_wide_spread_is_unresolved(self):
        parent = [10.0, 14.0, 8.0, 12.0, 9.0, 13.0, 10.0, 11.0, 7.0, 12.0]
        change = [10.5, 13.0, 8.5, 12.5, 9.0, 12.0, 10.0, 11.5, 8.0, 12.0]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "unresolved")


class GeneratorTest(unittest.TestCase):
    def _digest(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(d, seed, scale=0.001)
            h = hashlib.sha256()
            for f in sorted(os.listdir(d)):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
            return h.hexdigest()

    def test_same_seed_same_bytes_other_seed_other_rows(self):
        self.assertEqual(self._digest(7), self._digest(7))
        self.assertNotEqual(self._digest(7), self._digest(8))


if __name__ == "__main__":
    unittest.main()
