"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench"""

import json
import os
import unittest

import ledger

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def span(i, name, parent, wall, **kw):
    s = {"id": i, "name": name, "parent": parent, "wall_s": wall, "codegen_s": 0.0,
         "gc_s": 0.0, "sql_execs": 1, "jobs": 1, "stages": 1, "tasks": 4,
         "exec_run_s": wall, "shuffle_write_mb": 0.0, "spill_mb": 0.0, "plan_s": 0.01}
    s.update(kw)
    return s


def op(traced, wall, spans=(), latencies=None, facts=None, failures=(), digest="d", execs=7):
    return {"traced": traced, "wall_s": wall, "items": 1000, "latencies": latencies or {},
            "sql_execs": execs, "failures": list(failures), "digest": digest,
            "facts": facts or {}, "spans": list(spans)}


def raw(workload, ops, warm=()):
    return {"workload": workload, "cores": 4, "setup_s": [3.0, 1.0, 2.0],
            "peak_rss_mb": 900.0, "warmup_failures": list(warm), "ops": ops}


def catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class TailRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]  # 100 samples
        p, v = ledger.tail(xs)
        self.assertEqual(p, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        # one percentile higher leaves fewer than ten beyond
        v91 = ledger.quantile(xs, 0.91)
        self.assertLess(sum(1 for x in xs if x > v91), 10)

    def test_few_samples_fall_back_to_median(self):
        xs = [5.0, 1.0, 3.0, 2.0, 4.0]
        self.assertEqual(ledger.tail(xs), (50, 3.0))

    def test_twenty_samples(self):
        xs = [float(i) for i in range(20)]
        p, v = ledger.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(p, 52)

    def test_quantile_interpolates(self):
        self.assertAlmostEqual(ledger.quantile([0.0, 10.0], 0.25), 2.5)
        self.assertEqual(ledger.quantile([7.0], 0.9), 7.0)


class SelfTime(unittest.TestCase):
    def test_self_is_wall_minus_direct_children(self):
        spans = [span(1, "a", 0, 2.0), span(2, "a1", 1, 0.5), span(3, "b", 0, 3.0),
                 span(0, "op", -1, 6.0)]
        st = ledger.self_times(spans)
        self.assertAlmostEqual(st[0], 1.0)   # 6 - (2 + 3)
        self.assertAlmostEqual(st[1], 1.5)   # grandchild not subtracted twice
        self.assertAlmostEqual(st[2], 0.5)
        self.assertAlmostEqual(st[3], 3.0)

    def test_prefix_differences(self):
        spans = [span(i, "prefix." + n, 9, w) for i, (n, w) in enumerate(
            [("sources", 0.3), ("clean", 0.35), ("enrich", 0.5), ("metrics", 0.65),
             ("anomalies", 0.8)])]
        got = ledger.prefix_self_times(spans)
        self.assertAlmostEqual(got["sources.csv_s"], 0.3)
        self.assertAlmostEqual(got["transform.clean_s"], 0.05)
        self.assertAlmostEqual(got["transform.enrich_s"], 0.15)
        self.assertAlmostEqual(got["transform.metrics_s"], 0.15)
        self.assertAlmostEqual(got["transform.anomalies_s"], 0.15)
        self.assertEqual(ledger.prefix_self_times(spans[:3]), {})


class Summary(unittest.TestCase):
    def traced_ops(self):
        spans = [span(1, "ops.incdedup.add", 0, 1.0), span(2, "ops.bm25.add", 0, 0.5),
                 span(3, "ops.bm25.topk", 0, 0.4), span(0, "op", -1, 2.0)]
        lat = {"ingest": [1.5], "query": [0.4], "batch": [1.9], "compact": [0.1]}
        facts = {"ops.store.bytes": 1e6, "ops.store.shard_dirs": 4.0,
                 "store.bytes_per_input_byte": 2.0}
        return [op(False, 2.0, latencies=lat, facts=facts),
                op(True, 2.2, spans, latencies=lat, facts=facts)]

    def test_every_metric_emitted_with_its_unit(self):
        cat = catalogue()
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            for w in ("etl_txn", "store_ingest"):
                res = ledger.summarize(raw(w, self.traced_ops()), cat, trace)
                want = {m["name"]: m["unit"] for m in cat[key]}
                self.assertEqual(set(res["metrics"]), set(want))
                for name, m in res["metrics"].items():
                    self.assertEqual(m["unit"], want[name])
                    self.assertIsInstance(m["value"], (int, float), name)
                self.assertTrue(res["correct"])

    def test_end_to_end_values(self):
        res = ledger.summarize(raw("store_ingest", self.traced_ops()), catalogue(), False)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["items_per_s"], 500.0)   # untraced op only
        self.assertEqual(m["op_p50_s"], 1.9)

    def test_failed_op_is_counted_and_not_timed(self):
        ops = [op(False, 1.0), op(False, 100.0, failures=["fact rows 9 != 10"]), op(False, 3.0)]
        res = ledger.summarize(raw("etl_txn", ops), catalogue(), False)
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (3, 1))
        self.assertEqual(res["metrics"]["op_p50_s"]["value"], 2.0)

    def test_digest_mismatch_fails(self):
        ops = [op(False, 1.0, digest="a"), op(False, 1.0, digest="b")]
        res = ledger.summarize(raw("etl_txn", ops), catalogue(), False, expected_digest="a")
        self.assertEqual(res["failed"], 1)

    def test_differing_execution_counts_fail_the_run(self):
        ops = [op(False, 1.0, execs=15), op(False, 1.0, execs=16)]
        res = ledger.summarize(raw("etl_txn", ops), catalogue(), False)
        self.assertFalse(res["correct"])

    def test_warmup_failure_fails_the_run(self):
        res = ledger.summarize(raw("etl_txn", [op(False, 1.0)], warm=["x"]), catalogue(), False)
        self.assertEqual((res["attempted"], res["failed"]), (2, 1))


class Catalogue(unittest.TestCase):
    def test_names_unique_and_bounded(self):
        cat = catalogue()
        names = [m["name"] for k in ("end_to_end", "per_layer") for m in cat[k]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)
        for m in cat["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)


if __name__ == "__main__":
    unittest.main()
