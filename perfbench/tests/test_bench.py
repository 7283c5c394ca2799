"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

Run from the repository root (the hash check uses tools/hash_audit.py).
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
REPO = os.path.dirname(os.path.dirname(HERE))

from bench import checks, metrics, stats, workloads  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_omits_a_percentile_with_fewer_than_ten_samples_beyond(self):
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertIsNone(stats.percentile([], 50))

    def test_reports_a_supported_percentile(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 90), 90)
        self.assertEqual(stats.percentile(values, 50), 50)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([]), 0.0)


class SelfTimeTest(unittest.TestCase):
    def span(self, id, parent, start, end):
        return {"id": id, "parent": parent, "start_ms": start, "end_ms": end}

    def test_children_are_subtracted_and_overlaps_count_once(self):
        spans = [self.span(1, 0, 0, 100),      # op
                 self.span(2, 1, 10, 40),      # build
                 self.span(3, 1, 30, 70),      # action, overlaps build
                 self.span(4, 2, 15, 20)]      # inside build
        got = stats.self_times(spans)
        self.assertEqual(got[1], 100 - 60)     # 10..70 covered
        self.assertEqual(got[2], 30 - 5)
        self.assertEqual(got[3], 40)
        self.assertEqual(got[4], 5)

    def test_child_outside_its_parent_is_clipped(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 5, 50)]
        self.assertEqual(stats.self_times(spans)[1], 5)


class RequestListTest(unittest.TestCase):
    def test_same_seed_same_list(self):
        a = workloads.recs_requests(7, 2000, 1500, n_blocks=50)
        b = workloads.recs_requests(7, 2000, 1500, n_blocks=50)
        self.assertEqual(a, b)
        self.assertNotEqual(a, workloads.recs_requests(8, 2000, 1500, n_blocks=50))

    def test_every_block_holds_the_mix(self):
        reqs = workloads.recs_requests(3, 2000, 1500, n_blocks=5)
        for i in range(0, len(reqs), len(workloads.BLOCK)):
            block = reqs[i:i + len(workloads.BLOCK)]
            known = [r for r in block if r["id"] < workloads.UNKNOWN_BASE]
            self.assertEqual(len(known), 19)
            arms = [r["arm"] for r in known if r["kind"] == "product"]
            self.assertEqual((arms.count("default"), arms.count("rrf"),
                              arms.count("item")), (9, 2, 2))
            self.assertEqual(sum(r["kind"] == "customer" for r in known), 6)

    def test_warmup_does_not_depend_on_the_seed(self):
        self.assertEqual(workloads.warmup_requests(2000, 1500),
                         workloads.warmup_requests(2000, 1500))

    def test_repeat_frac(self):
        r = [{"kind": "product", "id": i, "arm": "default"} for i in (1, 2, 1, 1)]
        self.assertEqual(workloads.repeat_frac(r), 0.5)


def write_fixture(d):
    """The reference's seed basket data: products 1-4 (category A holds 1, 2
    and 4, category B holds 3) plus product 5 in B that nobody bought;
    orders 1 {1, 2} and 3 {4, 2} by customer 1, order 2 {3} by customer 2."""
    pq.write_table(pa.table({
        "p_partkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
        "p_brand": ["A", "A", "B", "A", "B"]}), os.path.join(d, "part.parquet"))
    pq.write_table(pa.table({
        "o_orderkey": pa.array([1, 2, 3], pa.int64()),
        "o_custkey": pa.array([1, 2, 1], pa.int64())}),
        os.path.join(d, "orders.parquet"))
    pq.write_table(pa.table({
        "l_orderkey": pa.array([1, 1, 2, 3, 3], pa.int64()),
        "l_partkey": pa.array([1, 2, 3, 4, 2], pa.int64())}),
        os.path.join(d, "lineitem.parquet"))


def body(items):
    import json
    return json.dumps({"items": [{"product_id": p, "score": s, "reason": r}
                                 for p, s, r in items], "took_ms": 5})


class RecsCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        write_fixture(self.tmp.name)

    def tearDown(self):
        self.tmp.cleanup()

    def test_duckdb_answers_follow_the_cascade(self):
        reqs = [{"kind": "product", "id": 2, "arm": "default"},
                {"kind": "product", "id": 3, "arm": "default"},
                {"kind": "product", "id": 2, "arm": "rrf"},
                {"kind": "product", "id": 2, "arm": "item"},
                {"kind": "product", "id": 3, "arm": "item"},
                {"kind": "customer", "id": 2, "arm": "default"},
                {"kind": "customer", "id": 1, "arm": "default"},
                {"kind": "product", "id": 99, "arm": "rrf"}]
        exp = checks.expected_recs(self.tmp.name, reqs)
        co, cat = "co-occurrence", "same-category"
        self.assertEqual(exp[("product", 2, "default")], [(1, 1.0, co), (4, 1.0, co)])
        self.assertEqual(exp[("product", 3, "default")], [(5, 1.0, cat)])
        self.assertEqual(exp[("product", 2, "rrf")],
                         [(1, 1 / 61 + 1 / 61, "rrf_fusion"),
                          (4, 1 / 62 + 1 / 62, "rrf_fusion")])
        self.assertEqual(exp[("product", 2, "item")],
                         [(1, 1.0, "item-item"), (4, 1.0, "item-item")])
        self.assertEqual(exp[("product", 3, "item")], [(5, 1.0, cat)])
        self.assertEqual(exp[("customer", 2, "default")], [(5, 1.0, cat)])
        self.assertEqual(exp[("customer", 1, "default")], [])
        self.assertEqual(exp[("product", 99, "rrf")], [])

    def result(self, items):
        return {"ops": [{"i": 0, "kind": "product", "id": 2, "arm": "default",
                         "status": 200, "ms": 1.0, "body": body(items)}]}

    def test_a_right_answer_passes(self):
        good = [(1, 1.0, "co-occurrence"), (4, 1.0, "co-occurrence")]
        self.assertEqual(checks.failures(self.result(good), True, self.tmp.name,
                                         None, {}, REPO), [])

    def test_a_wrong_or_empty_answer_counts_as_failed(self):
        for wrong in ([(4, 1.0, "co-occurrence"), (1, 1.0, "co-occurrence")], []):
            bad = checks.failures(self.result(wrong), True, self.tmp.name,
                                  None, {}, REPO)
            self.assertEqual(len(bad), 1)
            self.assertIn("product=2", bad[0][0])

    def test_a_failed_request_counts_as_failed(self):
        r = self.result([])
        r["ops"][0].update(status=0, body="java.net.ConnectException")
        self.assertEqual(len(checks.failures(r, True, self.tmp.name, None, {}, REPO)), 1)


    def test_an_unknown_id_that_raises_in_process_counts_as_failed(self):
        # Over HTTP the error reads as an empty 200, the right answer for
        # an unknown id; the in-process probe of the same request raised.
        unknown = {"kind": "product", "id": 99, "arm": "rrf"}
        r = {"ops": [dict(unknown, i=i, status=200, ms=1.0, body=body([]))
                     for i in (0, 1)],
             "probes": [dict(unknown, i=0, status=0, ms=1.0,
                             body="java.lang.IllegalStateException: boom")]}
        bad = checks.failures(r, True, self.tmp.name, None, {}, REPO)
        self.assertEqual([b[0] for b in bad],
                         ["request 0 product=99 arm=rrf",
                          "request 1 product=99 arm=rrf"])
        self.assertIn("boom", bad[0][1])
        r["probes"][0].update(status=200, body="[]")
        self.assertEqual(checks.failures(r, True, self.tmp.name, None, {}, REPO), [])


class RowCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        os.makedirs(os.path.join(self.tmp.name, "q1"))
        pq.write_table(pa.table({"x": pa.array([2, 1], pa.int64())}),
                       os.path.join(self.tmp.name, "q1", "part-0.parquet"))
        self.right = checks.row_hashes(REPO, self.tmp.name, ["q1"])["q1"]
        self.result = {"ops": [{"name": "q1", "ok": True, "error": None}]}

    def tearDown(self):
        self.tmp.cleanup()

    def failures(self, pinned):
        return checks.failures(self.result, False, None, self.tmp.name, pinned, REPO)

    def test_the_pinned_hash_passes(self):
        self.assertEqual(self.failures({"q1": self.right}), [])

    def test_a_corrupted_pinned_hash_counts_as_failed(self):
        corrupted = self.right[:-1] + ("0" if self.right[-1] != "0" else "1")
        self.assertEqual(len(self.failures({"q1": corrupted})), 1)
        self.assertEqual(len(self.failures({})), 1)

    def test_a_row_that_raised_counts_as_failed(self):
        self.result["ops"][0].update(ok=False, error="boom")
        self.assertEqual(self.failures({"q1": self.right}), [("row q1", "boom")])


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics the runs print."""

    def setUp(self):
        import json
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        op = {"ms": 1.0, "name": "graph_kcore", "build_ms": 0.5,
              "action_ms": 0.5, "i": 0, "kind": "product", "id": 1,
              "arm": "default", "status": 200,
              "body": '{"items": [], "took_ms": 1}'}
        self.result = {"ops": [op], "measure_s": 1.0, "setup_s": 1.0,
                       "retained_heap_mb": 1.0, "fs": {}, "setup_parts": {},
                       "cache_end": {"rdds": 0, "mem_mb": 0, "disk_mb": 0},
                       "gc_ms": 0, "gc_count": 0}

    def names(self, key):
        return [(m["name"], m["unit"]) for m in self.spec[key]]

    def test_end_to_end(self):
        got = [(k, u) for k, (_, u) in metrics.end_to_end(self.result).items()]
        self.assertEqual(got, self.names("end_to_end"))

    def test_per_layer_on_every_workload(self):
        for w in self.spec["workloads"]:
            got = [(k, u) for k, (_, u) in
                   metrics.per_layer(self.result, w["name"], 4).items()]
            self.assertEqual(got, self.names("per_layer"))

    def test_workloads_exist(self):
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]),
                         sorted(workloads.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
