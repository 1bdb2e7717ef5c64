"""Tests of the graft benchmark itself.

    python3 -m unittest graftbench/test_graftbench.py          # rules, no JVM
    GRAFTBENCH_SMOKE=1 python3 -m unittest graftbench/test_graftbench.py

The smoke test runs every workload end to end at a tiny size (one JVM
per workload, about half a minute each) through the same command the
benchmark is run with."""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import diff  # noqa: E402
import oracle  # noqa: E402
from workloads import SCHEDULED, WORKLOADS  # noqa: E402


def op(i, entry, status="ok", wall=1.0, traced=False, p=0, **kw):
    return dict(op=i, entry=entry, status=status, wall_s=wall, traced=traced, **{"pass": p}, **kw)


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        v, pct, n = benchlib.tail_latency([float(x) for x in range(1, 101)])
        self.assertEqual((v, pct, n), (90.0, 90.0, 100))

    def test_exactly_ten_samples_beyond(self):
        xs = [float(x) for x in range(20, 0, -1)]
        v, pct, n = benchlib.tail_latency(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual((v, pct, n), (10.0, 50.0, 20))

    def test_twenty_samples_is_the_smallest(self):
        # below 20 the rule would land under the median, so the tail
        # is the maximum, never a value below op_p50_s
        xs = [float(x) for x in range(1, 20)]
        self.assertEqual(benchlib.tail_latency(xs), (19.0, 100.0, 19))
        self.assertGreaterEqual(benchlib.tail_latency(xs)[0], benchlib.median(xs))

    def test_too_few_samples_reports_max_at_100(self):
        self.assertEqual(benchlib.tail_latency([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(benchlib.tail_latency([1.0] * 11 + [4.0]), (4.0, 100.0, 12))


class SerdeSplit(unittest.TestCase):
    LEGS = {"gen": 2.0, "encode_avro": 2.5, "encode_json": 3.0,
            "produce_none_avro": 4.0, "produce_none_json": 5.0,
            "produce_avro": 4.5, "produce_json": 5.4,
            "read_avro": 0.3, "read_json": 0.5,
            "transport_avro": 0.5, "transport_json": 0.9,
            "consume_avro": 0.8, "consume_json": 1.9}

    def test_cumulative_subtraction(self):
        s = benchlib.serde_split([self.LEGS])
        want = {"gen_s": 2.0, "avro_encode_s": 0.5, "json_encode_s": 1.0,
                "avro_write_s": 1.5, "json_write_s": 2.0, "codec_s": 0.45,
                "read_s": 0.4, "aggregate_s": 0.3, "avro_decode_s": 0.3,
                "json_decode_s": 1.0}
        for k, v in want.items():
            self.assertAlmostEqual(s[k], v, msg=k)

    def test_median_over_passes(self):
        slow = dict(self.LEGS, gen=10.0)
        s = benchlib.serde_split([self.LEGS, self.LEGS, slow])
        self.assertAlmostEqual(s["gen_s"], 2.0)
        self.assertAlmostEqual(s["avro_encode_s"], 0.5)


class FailureAccounting(unittest.TestCase):
    def test_thrown_timed_out_and_wrong_answer_ops_fail(self):
        ops = [op(0, "a", p=0), op(1, "b", p=0), op(2, "a", p=1), op(3, "b", "threw", p=1),
               op(4, "a", "timeout", p=2), op(5, "b", p=2), op(6, "c", p=3), op(7, "a", p=4)]
        passes = benchlib.pass_ops(ops, ["a", "b", "c"], wrong_entries={"c": "values differ"})
        self.assertEqual([p["status"] for p in passes], ["ok", "threw", "timeout", "wrong", "ok"])
        self.assertEqual(benchlib.failure_counts(passes), (5, 3))

    def test_serde_round_trip_fails_with_any_leg(self):
        legs = [op(i, leg, p=p, wall=1.0 + i) for p in range(3)
                for i, leg in enumerate(benchlib.SERDE_E2E_LEGS)]
        legs[1] = dict(legs[1], op=100)           # pass 0: report check broken
        legs[8] = dict(legs[8], status="timeout")  # pass 1: a leg timed out
        trips = benchlib.pass_ops(legs + [op(99, "gen", p=2, wall=50.0)],
                                  benchlib.SERDE_E2E_LEGS, violated_ops=[100])
        self.assertEqual([t["status"] for t in trips], ["wrong", "timeout", "ok"])
        self.assertAlmostEqual(trips[2]["wall_s"], 21.0)  # split legs are not summed
        self.assertEqual(benchlib.failure_counts(trips), (3, 2))

    def test_skipped_at_deadline_fails(self):
        self.assertEqual(benchlib.failure_counts([op(0, "a", "skipped")]), (1, 1))


class EntryOrder(unittest.TestCase):
    ENTRIES = WORKLOADS["dedup_cold"]["entries"] + WORKLOADS["stream_replay"]["entries"]

    def test_same_seed_same_order(self):
        self.assertEqual(benchlib.entry_orders(self.ENTRIES, 7, 4),
                         benchlib.entry_orders(self.ENTRIES, 7, 4))

    def test_each_pass_is_a_permutation(self):
        for order in benchlib.entry_orders(self.ENTRIES, 3, 5):
            self.assertEqual(sorted(order), sorted(self.ENTRIES))

    def test_seeds_differ(self):
        orders = {tuple(map(tuple, benchlib.entry_orders(self.ENTRIES, s, 2))) for s in range(10)}
        self.assertGreater(len(orders), 5)

    def test_pinned_order(self):
        # a change of the permutation (code or Python version) changes
        # what every seed measures, so it is pinned
        self.assertEqual(benchlib.entry_orders(["a", "b", "c", "d"], 1, 2),
                         [["c", "d", "a", "b"], ["d", "a", "c", "b"]])


def span(o, kind, s, e, job=-1):
    return {"op": o, "kind": kind, "name": kind, "start_ns": int(s * 1e9),
            "end_ns": int(e * 1e9), "job": job}


class SelfTimes(unittest.TestCase):
    def test_nested_spans_account_for_wall(self):
        spans = [span(0, "op", 0, 10), span(0, "build", 0, 4), span(0, "exec", 4, 10),
                 span(0, "plan", 4, 5), span(0, "job", 5, 9, 1), span(0, "stage", 5, 8, 1)]
        st, overlap, residual = benchlib.self_times(spans, {0: 10.0})
        self.assertAlmostEqual(st["build"], 4.0)
        self.assertAlmostEqual(st["exec"], 1.0)
        self.assertAlmostEqual(st["plan"], 1.0)
        self.assertAlmostEqual(st["job"], 1.0)
        self.assertAlmostEqual(st["stage"], 3.0)
        self.assertAlmostEqual(overlap, 0.0)
        self.assertAlmostEqual(residual, 0.0)

    def test_overlapping_stages_count_as_overlap(self):
        spans = [span(0, "op", 0, 4), span(0, "job", 0, 4, 1), span(0, "stage", 0, 3, 1),
                 span(0, "stage", 1, 4, 1)]
        st, overlap, residual = benchlib.self_times(spans, {0: 4.0})
        self.assertAlmostEqual(st["stage"], 6.0)
        self.assertAlmostEqual(overlap, 2.0)
        self.assertAlmostEqual(residual, 0.0)

    def test_unaccounted_wall_is_the_residual(self):
        _, _, residual = benchlib.self_times([span(0, "op", 0, 3)], {0: 3.5})
        self.assertAlmostEqual(residual, 0.5)

    def test_job_cover_and_jobs_inside(self):
        spans = [span(0, "build", 0, 2), span(0, "job", 0.5, 1.5), span(0, "job", 3, 4),
                 span(0, "job", 3.5, 5)]
        self.assertAlmostEqual(benchlib.job_cover(spans, 0), 3.0)
        self.assertEqual(benchlib.jobs_inside(spans, 0, "build"), 1)

    def test_trace_overhead(self):
        ops = [op(0, "a", wall=9.0), op(1, "a", wall=1.0, p=1),
               op(2, "a", wall=1.1, traced=True, p=2), op(3, "b", wall=2.0, p=1),
               op(4, "b", wall=2.2, traced=True, p=2)]
        self.assertAlmostEqual(benchlib.trace_overhead(ops), 0.1)


class Oracle(unittest.TestCase):
    def test_order_insensitive_with_normalization(self):
        import pandas as pd
        got = pd.DataFrame({"b": [2.0000001, 1.0], "a": ["y", "x"]})
        want = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
        self.assertEqual(oracle.same_answer(got, want), (True, ""))

    def test_wrong_value_fails(self):
        import pandas as pd
        got = pd.DataFrame({"a": [1, 2]})
        self.assertFalse(oracle.same_answer(got, pd.DataFrame({"a": [1, 3]}))[0])
        self.assertFalse(oracle.same_answer(got, pd.DataFrame({"a": [1]}))[0])

    def test_serde_report_checks(self):
        def rep(total, err):
            return [json.dumps({"totalMensagens": total, "mensagensComErro": err})]
        good = [op(0, "produce_avro", report=rep(970, 10), stored_bytes=10),
                op(1, "produce_json", report=rep(970, 10), stored_bytes=20),
                op(2, "consume_avro", report=rep(970, 0)),
                op(3, "transport_json", report=rep(970, 0))]
        self.assertEqual(oracle.serde_violations(good, 970), [])
        bad = [op(0, "produce_avro", report=rep(970, 11), stored_bytes=30),
               op(1, "produce_json", report=rep(970, 10), stored_bytes=20),
               op(2, "consume_avro", report=rep(969, 2))]
        ids = sorted(i for i, _ in oracle.serde_violations(bad, 970))
        self.assertEqual(ids, [0, 0, 2, 2, 2])


class Diff(unittest.TestCase):
    def test_per_metric_and_per_entry(self):
        with tempfile.TemporaryDirectory() as d:
            def write(name, v, wall):
                r = {"workload": "w", "trace": 0, "metrics": {"op_p50_s": {"value": v, "unit": "s"}},
                     "entries": {"q1": {"wall_s": wall}}}
                p = os.path.join(d, name)
                with open(p, "w") as f:
                    json.dump(r, f)
                return p
            rows = diff.diff(diff.load(write("a.json", 2.0, 1.0)), diff.load(write("b.json", 1.0, 1.5)))
        got = {(r[1], r[2]): r[5] for r in rows}
        self.assertAlmostEqual(got[("e2e", "op_p50_s")], -0.5)
        self.assertAlmostEqual(got[("entry", "q1.wall_s")], 0.5)


class Definitions(unittest.TestCase):
    def test_benchmark_json_lists_the_scheduled_workloads(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]), SCHEDULED)
        for w in spec["workloads"]:
            self.assertIn(w["name"], WORKLOADS)


@unittest.skipUnless(os.environ.get("GRAFTBENCH_SMOKE") == "1", "set GRAFTBENCH_SMOKE=1")
class Smoke(unittest.TestCase):
    """Every workload, tiny, through the benchmark command, traced (one
    untraced and one traced pass) so both result shapes are exercised."""

    def run_workload(self, name, trace):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                            "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke"],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_every_workload(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        for name in WORKLOADS:
            with self.subTest(workload=name):
                out = self.run_workload(name, 1)
                self.assertTrue(out["correct"], out)
                self.assertEqual(out["failed"], 0)
                self.assertEqual(set(out["metrics"]), {m["name"] for m in spec["per_layer"]})
        out = self.run_workload(SCHEDULED[0], 0)
        self.assertEqual(set(out["metrics"]), {m["name"] for m in spec["end_to_end"]})


if __name__ == "__main__":
    unittest.main()
