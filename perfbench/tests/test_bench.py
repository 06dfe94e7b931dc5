"""The benchmark's own tests. Run from the checkout root:

    python3 -m unittest discover perfbench/tests
"""
import filecmp
import json
import os
import random
import shutil
import struct
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import frames  # noqa: E402
import gen_data  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench", "test-scratch")


def scratch(name):
    d = os.path.join(SCRATCH, name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.dirname(d), exist_ok=True)
    return d


class StatsTest(unittest.TestCase):
    def test_percentile_interpolates(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 0.0), 1)
        self.assertEqual(stats.percentile(xs, 1.0), 10)
        self.assertAlmostEqual(stats.percentile(xs, 0.5), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 0.75), 7.75)
        self.assertAlmostEqual(stats.percentile(list(reversed(xs)), 0.5), 5.5)
        self.assertEqual(stats.percentile([42.0], 0.9), 42.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertTrue(stats.tail_ok(100, 0.9))
        self.assertFalse(stats.tail_ok(99, 0.9))
        self.assertTrue(stats.tail_ok(40, 0.75))
        self.assertFalse(stats.tail_ok(39, 0.75))
        self.assertTrue(stats.tail_ok(1, 0.5))

    def test_a_thin_tail_is_refused(self):
        with self.assertRaises(run.BenchError):
            run._p({"x": list(range(39))}, "x", 0.75)
        self.assertEqual(run._p({"x": list(range(40))}, "x", 0.75)[1], 40)

    def test_end_to_end_counts_independent_samples(self):
        m, n = run.end_to_end("cdc_replicate", fake_result("cdc_replicate"))
        # freshness counts the commits that confirmed the transactions
        self.assertEqual(n["latency_ms_p50"], 12)
        self.assertEqual(n["throughput_per_s"], 1)
        self.assertAlmostEqual(m["setup_s"], 1.0 + 0.25 + 0.5)
        m, n = run.end_to_end("olap_mix", fake_result("olap_mix"))
        self.assertEqual(n["latency_ms_p50"], 76)
        self.assertEqual(n["throughput_per_s"], 4)
        self.assertAlmostEqual(m["setup_s"], 1.0 + 2.0 + 0.5)


class InputsTest(unittest.TestCase):
    def test_frames_are_byte_identical_for_a_seed(self):
        a, b, c = scratch("fa"), scratch("fb"), scratch("fc")
        frames.render(a, 7, 20, 3, 9, 4, 100.0)
        frames.render(b, 7, 20, 3, 9, 4, 100.0)
        frames.render(c, 8, 20, 3, 9, 4, 100.0)
        names = sorted(os.listdir(a))
        self.assertEqual(names, sorted(os.listdir(b)))
        self.assertEqual(len([n for n in names if n.startswith("txn-")]), 12)
        self.assertIn("burst.parquet", names)
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        self.assertFalse(filecmp.cmp(os.path.join(a, "txn-000003.parquet"),
                                     os.path.join(c, "txn-000003.parquet"),
                                     shallow=False))

    def test_frames_follow_the_wire_format(self):
        ends = []
        gen = frames.render_txns(3, 5, 20)
        for fs, ops, wal_end in gen:
            self.assertEqual(ops, 20)
            for f in fs:
                self.assertEqual(f[:1], b"w")
                start, end, _ = struct.unpack(">qqq", f[1:25])
                self.assertEqual(end - start, len(f) - 25)
            self.assertEqual(fs[-1][25:26], b"C")
            self.assertEqual(struct.unpack(">q", fs[-1][9:17])[0], wal_end)
            ends.append(wal_end)
        self.assertEqual(ends, sorted(set(ends)))

    def test_schedule_lists_every_transaction_in_wal_order(self):
        d = scratch("fs")
        frames.render(d, 3, 10, 2, 5, 3, 250.0)
        with open(os.path.join(d, "txns.tsv")) as f:
            rows = [ln.rstrip("\n").split("\t") for ln in f]
        self.assertEqual([r[3] for r in rows], ["lead"] * 2 + ["steady"] * 5 + ["burst"] * 3)
        self.assertEqual([float(r[4]) for r in rows[:7]], [i * 250.0 for i in range(7)])
        self.assertEqual({r[2] for r in rows[7:]}, {"burst.parquet"})
        self.assertEqual([r[2] for r in rows[:7]], [f"txn-{i:06d}.parquet" for i in range(7)])
        ends = [int(r[1]) for r in rows]
        self.assertEqual(ends, sorted(set(ends)))
        self.assertTrue(all(r[0] == "10" for r in rows))

    def test_reference_state_tracks_the_op_mix(self):
        churn = frames.Churn(5)
        ops = [churn.draw() for _ in range(4000)]
        kinds = {k: sum(1 for o in ops if o[0] == k) for k in "IUD"}
        self.assertAlmostEqual(kinds["I"] / 4000, 0.85, delta=0.03)
        self.assertAlmostEqual(kinds["U"] / 4000, 0.10, delta=0.03)
        self.assertEqual(len(churn.state), kinds["I"] - kinds["D"])
        self.assertEqual(sorted(churn.live), sorted(churn.state))

    def test_query_order_is_fixed_by_the_seed(self):
        a, b = run.pass_orders(11), run.pass_orders(11)
        self.assertEqual(a, b)
        self.assertNotEqual(a, run.pass_orders(12))
        for p in a:
            self.assertEqual(sorted(p), sorted(run.OLAP_QUERIES))

    def test_tables_are_byte_identical(self):
        a, b = scratch("ta"), scratch("tb")
        gen_data.generate(a, 0.001, 42)
        gen_data.generate(b, 0.001, 42)
        names = [f"{t}.parquet" for t in gen_data.TABLES]
        self.assertEqual(sorted(os.listdir(a)), sorted(names))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_digest_ignores_row_order_but_not_values_or_kinds(self):
        import pandas as pd
        df = pd.DataFrame({"b": [3, 1, 2], "a": ["x", "y", "z"]})
        shuffled = df.sample(frac=1, random_state=1)[["a", "b"]]
        self.assertEqual(run.digest(df), run.digest(shuffled))
        self.assertNotEqual(run.digest(df), run.digest(df.assign(b=[3, 1, 4])))
        self.assertNotEqual(run.digest(df), run.digest(df.astype({"b": float})))


def fake_result(workload, n_queries=76):
    rnd = random.Random(1)
    s = {"setup.prepare_s": [0.5, 0.4, 0.6]}
    v = {"setup.session_s": 1.0, "heap_live_mb": 200.0}
    if workload == "cdc_replicate":
        s.update({"freshness_ms": [rnd.random() for _ in range(150)],
                  "catchup_ops_per_s": [20000.0],
                  "final_read_ms": [rnd.random() for _ in range(40)]})
        v.update({"setup.query_start_s": 0.25, "freshness_commits": 12})
    else:
        for i in range(n_queries):
            q = run.OLAP_QUERIES[i % len(run.OLAP_QUERIES)]
            s.setdefault(f"olap.{q}.ms", []).append(rnd.random())
            s.setdefault("olap.query_ms", []).append(rnd.random())
        s["olap.pass_s"] = [7.0] * 4
        v.update({"setup.warmup_s": 2.0, "olap.queries_per_s": 2.7})
    return {"samples": s, "values": v, "spans": [
        [1, 0, "entry", "q", 0, 100], [2, 1, "entry.exec", "q", 10, 90]],
        "groups": {"span-2": [3, 3, 6], "": [1, 1, 1]}, "attempted": 1, "failures": []}


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_declared_lists_match_benchmark_json(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         run.per_layer_names())
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.WORKLOADS))

    def test_printed_metrics_are_exactly_the_declared_ones(self):
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        layer = {m["name"] for m in self.bench["per_layer"]}
        for w in run.WORKLOADS:
            m, _ = run.end_to_end(w, fake_result(w))
            self.assertEqual(set(m), e2e, w)
            m = run.per_layer(w, fake_result(w))
            self.assertEqual(set(m), layer, w)

    def test_self_time_subtracts_children(self):
        m = run.per_layer("olap_mix", fake_result("olap_mix"))
        self.assertAlmostEqual(m["self.entry.exec_ms"], 80 / 1e6)
        self.assertEqual(m["jobs.entry.exec"], 3)
        self.assertEqual(m["jobs.unattributed"], 1)


if __name__ == "__main__":
    unittest.main()
