"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import tempfile
import time
import unittest
from collections import Counter

import check
import gen
import metrics
import run
import speed
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Generation(unittest.TestCase):

    def test_request_streams_are_a_function_of_the_seed(self):
        a = gen.request_streams(3, 150, reads=200, writes=50)
        self.assertEqual(a, gen.request_streams(3, 150, reads=200, writes=50))
        self.assertNotEqual(a, gen.request_streams(4, 150, reads=200, writes=50))

    def test_read_keys_are_uniform(self):
        reads, _ = gen.request_streams(1, 1000, reads=30000, writes=10)
        keys = Counter(r["key"] for r in reads if r["cls"] == "point")
        self.assertEqual(len(keys), 1000)
        self.assertLess(keys.most_common(1)[0][1] / sum(keys.values()), 0.01)

    def test_every_prefix_holds_the_read_mix(self):
        reads, _ = gen.request_streams(4, 150, reads=200, writes=10)
        self.assertTrue(all(r["route"] == "query" for r in reads))
        for n in range(1, len(reads) + 1):
            kinds = Counter(r["cls"] for r in reads[:n])
            self.assertGreaterEqual(kinds["agg"], math.ceil(n / 10), n)
            for cls, share in gen.READ_MIX:
                self.assertLessEqual(abs(kinds[cls] - n * share), 2, (n, cls))
        kinds = Counter(r["cls"] for r in reads)
        self.assertEqual({c: kinds[c] / len(reads) for c in kinds}, dict(gen.READ_MIX))

    def test_write_mix_and_disjoint_insert_ids(self):
        _, writes = gen.request_streams(9, 150, reads=10, writes=1000)
        self.assertTrue(all(r["route"] == "command" for r in writes))
        self.assertEqual({r["cls"] for r in writes[:3]}, {c for c, _ in gen.WRITE_MIX})
        kinds = Counter(r["cls"] for r in writes)
        self.assertEqual({c: kinds[c] / len(writes) for c in kinds}, dict(gen.WRITE_MIX))
        seen = set()
        for r in writes:
            if r["cls"] == "insert":
                for i in r["ids"]:
                    self.assertNotIn(i, seen)
                    seen.add(i)
                    self.assertTrue(gen.CUSTOMER_OFF + 150 <= i < 2_000_000)
            elif r["cls"] == "edge":
                self.assertLessEqual(set(r["ids"]), seen)  # an earlier insert


class Percentiles(unittest.TestCase):

    def test_mix_latency_weights_class_interquartile_means_by_share(self):
        by_class = {"a": [1, 2, 300], "b": [10, 10, 10, 10]}
        self.assertEqual(stats.mix_latency(by_class, {"a": 0.5, "b": 0.5}), 6.0)
        self.assertEqual(stats.interquartile_mean([9, 1, 2, 3, 4, 5, 6, 100]), 4.5)
        self.assertEqual(stats.interquartile_mean([7, 1]), 4.0)

    def test_too_few_samples_of_a_class_are_refused(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.mix_latency({"a": [1, 2], "b": [1, 2, 3]}, {"a": 0.5, "b": 0.5})
        with self.assertRaises(stats.TooFewSamples):
            stats.mix_latency({"b": [1, 2, 3]}, {"a": 0.5, "b": 0.5})
        self.assertEqual(stats.p50([5, 1, 4, 2]), 3.0)
        self.assertEqual(stats.p50_or_zero([]), 0.0)


class HostSpeedScaling(unittest.TestCase):

    def test_scale_uses_the_samples_inside_the_interval(self):
        samples = [(t, 2_000_000) for t in range(100)] + [(t, 500_000) for t in range(100, 200)]
        host = speed.HostSpeed({"spawn_ns": 0, "samples": samples})
        self.assertEqual(host.kernel_ms(0, 99), 2.0)
        self.assertEqual(host.scale(100, 199), speed.REF_KERNEL_MS / 0.5)
        self.assertEqual(host.kernel_ms(50, 149), 1.25)
        self.assertEqual(host.kernel_ms(80, 99 + speed.MIN_SAMPLES), 1.25)
        with self.assertRaises(ValueError):
            host.scale(0, speed.MIN_SAMPLES - 2)

    def test_probe_samples_on_the_monotonic_clock_until_it_exits(self):
        t0 = time.monotonic_ns()
        with speed.Probe() as probe:
            time.sleep(0.3)
        t1 = time.monotonic_ns()
        n = len(probe.samples)
        self.assertGreaterEqual(n, 3)
        self.assertTrue(all(t0 <= t <= t1 and c > 0 for t, c in probe.samples))
        time.sleep(0.1)
        self.assertEqual(len(probe.samples), n)


class Declared(unittest.TestCase):

    def test_every_printed_metric_is_declared_in_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            printed = metrics._result({}, {}, 1, 0, [], trace)["metrics"]
            declared = {m["name"]: m["unit"] for m in bench[key]}
            self.assertEqual({n: m["unit"] for n, m in printed.items()}, declared, key)
        self.assertLessEqual({w["name"] for w in bench["workloads"]}, set(run.WORKLOADS))


class Isolation(unittest.TestCase):

    def test_stateful_run_directories_are_refused(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(run.stale_state(d), [])
            for rel in ("target/graph-cache", "target/ftstore-ab12", "graph-cache",
                        "stores/store"):
                os.makedirs(os.path.join(d, rel))
                self.assertIn(os.path.join(d, rel), run.stale_state(d))
            with self.assertRaises(run.Refused):
                run.launch_harness("unused", [], d, [], 1)


class Correctness(unittest.TestCase):

    def test_acknowledged_writes_must_be_durable(self):
        reqs = {(0, 0): {"cls": "insert"}, (0, 1): {"cls": "update", "key": 7, "value": 1.25},
                (0, 2): {"cls": "edge", "key": 105}, (0, 3): {"cls": "update", "key": 7,
                                                            "value": 2.25}}

        def sample(seq, cls, phase="http", status=200, id_=None):
            return {"phase": phase, "client": 0, "seq": seq, "cls": cls, "write": True,
                    "status": status, "id": id_}
        samples = [sample(0, "insert", id_=11), sample(1, "update"),
                   sample(2, "edge", id_=11), sample(3, "update", phase="traced")]
        good = {"customers": [[11, "Bench#11", 0.5, "BENCH"], [7, "c", 2.25, "X"]],
                "edges": [[11, 105]]}
        self.assertEqual(check.check_durable(samples, reqs, good), [])
        stale = dict(good, customers=[[11, "Bench#11", 0.5, "BENCH"], [7, "c", 1.25, "X"]])
        self.assertEqual(len(check.check_durable(samples, reqs, stale)), 1)
        lost = {"customers": [[7, "c", 2.25, "X"]], "edges": []}
        self.assertEqual(len(check.check_durable(samples, reqs, lost)), 2)

    def test_read_answers_are_compared_exactly(self):
        reqs = {(0, 0): {"key": 1000001}}
        exp = {"point": {"1000001": [[1000001, "Customer#000000001", "BUILDING"]]}}
        body = json.dumps({"result": [{"id": 1000001, "name": "Customer#000000001",
                                       "mktsegment": "BUILDING"}]})
        s = {"phase": "http", "client": 0, "seq": 0, "cls": "point", "write": False,
             "status": 200, "body": body}
        self.assertEqual(check.check_reads([s], reqs, exp), [])
        s["body"] = body.replace("BUILDING", "FURNITURE")
        self.assertEqual(len(check.check_reads([s], reqs, exp)), 1)


if __name__ == "__main__":
    unittest.main()
