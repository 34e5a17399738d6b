"""Tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import analyze  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_counts(self):
        self.assertEqual(analyze.percentile([3, 1, 2], 50), (2, 3))
        self.assertEqual(analyze.percentile([10, 20], 50), (15.0, 2))
        self.assertEqual(analyze.percentile([1, 2, 3, 4, 5], 90)[0], 4.6)
        self.assertEqual(analyze.percentile([7], 90), (7, 1))

    def test_empty_has_no_samples(self):
        v, n = analyze.percentile([], 50)
        self.assertEqual(n, 0)
        self.assertNotEqual(v, v)  # nan

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(analyze.tail_percentile(10))
        self.assertEqual(analyze.tail_percentile(100), 90)
        self.assertEqual(analyze.tail_percentile(20), 50)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(analyze.interval_union([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(analyze.interval_union([(0, 1), (1, 2)]), 2)
        self.assertEqual(analyze.interval_union([]), 0)
        self.assertEqual(analyze.interval_union([(3, 3), (4, 2)]), 0)

    def test_self_time_clips_children(self):
        self.assertEqual(analyze.self_time(0, 10, [(2, 4), (3, 6)]), 6)
        self.assertEqual(analyze.self_time(0, 10, [(-5, 2), (9, 20)]), 7)
        self.assertEqual(analyze.self_time(0, 10, []), 10)
        self.assertEqual(analyze.self_time(0, 10, [(0, 10), (1, 2)]), 0)


class ModuleTest(unittest.TestCase):
    def test_packages_and_classes(self):
        m = analyze.module_of
        self.assertEqual(m("graft.ann.IvfIndex$.build(IvfIndex.scala:57)"), "ann")
        self.assertEqual(m("graft.Api.semanticSearch(Api.scala:455)"), "Api")
        self.assertEqual(m("graft.Api.$anonfun$search$1(Api.scala:1190)"), "Api")
        self.assertEqual(m("graft.Indexes$.applyPending(Indexes.scala:90)"), "Indexes")
        self.assertEqual(m("graft.entry.DedupQueries$.$anonfun$queries$3(DedupQueries.scala:40)"),
                         "entry")
        self.assertEqual(m("graft.SparkEntry$.$anonfun$searchQueries$1(SparkEntry.scala:66)"),
                         "entry")
        self.assertEqual(m("graft.Checkpoints$.parallel(Checkpoints.scala:20)"), "Checkpoints")
        self.assertEqual(m("graft.catalog.Catalog.readDocuments(Catalog.scala:152)"), "catalog")

    def test_other_and_none(self):
        self.assertEqual(analyze.module_of("graft.retriever.Retriever.run(Retriever.scala:1)"),
                         "other")
        self.assertEqual(analyze.module_of(""), "")
        self.assertEqual(analyze.module_of("org.apache.spark.rdd.RDD.count(RDD.scala:1)"), "")


class SpanTest(unittest.TestCase):
    def record(self):
        ops = [{"id": "op1", "kind": "read", "name": "lexical_scan", "t0": 0.0, "t1": 100.0,
                "ok": True, "traced": True}]
        trace = {"jobs": [{"job": 0, "group": "op1", "start": 10, "end": 40, "stages": [0],
                           "frame": "graft.search.Lexical$.search(Lexical.scala:1)"},
                          {"job": 1, "group": "op1", "start": 30, "end": 60, "stages": [1],
                           "frame": ""}],
                 "stages": [{"stage": 0, "tasks": 4, "sched_delay_ms": 2, "run_ms": 20},
                            {"stage": 1, "tasks": 1, "sched_delay_ms": 1, "run_ms": 10}],
                 "sql": [{"phases": {"analysis": {"start": 2, "end": 5},
                                     "planning": {"start": 5, "end": 8}}}],
                 "embeds": [{"start": 12, "end": 14, "texts": 1}]}
        return {"workload": "serve_read", "ops": ops, "trace": trace, "launch_ms": 0.0,
                "session_ready_ms": 0.0, "stored_bytes": 30, "input_bytes": 10, "write_docs": 5}

    def test_tree_accounts_for_wall(self):
        sp = analyze.spans(self.record())
        parents = {s["id"]: s["parent"] for s in sp}
        self.assertEqual(parents["job0"], "op1")
        self.assertEqual(parents["embed0"], "job0")
        selfs = analyze.self_times(sp)
        self.assertEqual(selfs["op1"], 100 - 50 - 6)
        self.assertEqual(selfs["job0"], 28)
        self.assertTrue(all(s["request"] == "op1" for s in sp))

    def test_layer_metrics(self):
        m, _ = analyze.per_layer(self.record(), 4)
        self.assertEqual(m["spark.jobs"][0], 2)
        self.assertEqual(m["spark.gap_ms"][0], 50)
        self.assertEqual(m["search.jobs"][0], 1)
        self.assertEqual(m["group.jobs"][0], 1)
        self.assertEqual(m["trace.accounted_frac"][0], 1.0)
        self.assertEqual(set(k for k, _ in analyze.per_layer_names()), set(m))

    def test_benchmark_lists_every_layer_metric(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..",
                            "BENCHMARK.json")
        with open(path) as f:
            listed = [(x["name"], x["unit"]) for x in json.load(f)["per_layer"]]
        self.assertEqual(listed, analyze.per_layer_names())

    def test_paired_overhead(self):
        ops = [{"name": "a", "traced": False, "ok": True, "t0": 0, "t1": 100},
               {"name": "a", "traced": True, "ok": True, "t0": 100, "t1": 210},
               {"name": "b", "traced": True, "ok": True, "t0": 210, "t1": 260},
               {"name": "b", "traced": False, "ok": True, "t0": 260, "t1": 310}]
        self.assertEqual([round(r, 6) for r in analyze.paired_overhead(ops)], [0.1, 0.0])


class GeneratorTest(unittest.TestCase):
    def test_serve_inputs_reproduce_per_seed(self):
        a, b, c = gen.serve_inputs(5), gen.serve_inputs(5), gen.serve_inputs(6)
        self.assertEqual(a, b)
        self.assertNotEqual(a["reads"], c["reads"])
        self.assertNotEqual(a["base"], c["base"])

    def test_serve_inputs_shape(self):
        d = gen.serve_inputs(1, n_base=50, n_write=5, n_recall=4)
        self.assertEqual([r["route"] for r in d["reads"]], gen.READ_ROUTES)
        self.assertEqual(len({c for c, _ in d["base"]}), 50)
        self.assertEqual(len({c for c, _ in d["base"] + d["write"]}), 55)
        self.assertEqual(d["postings"],
                         sum(len(set(c.split())) for c, _ in d["base"] + d["write"]))
        for r in d["reads"]:
            if r["route"] == "get_by_ids":
                self.assertTrue(all(0 <= p < 50 for p in r["positions"]))
            else:
                self.assertIn(len(r["question"].split()), (2, 3, 4))
        self.assertEqual(len(d["recall"]), 4)

    def test_batch_orders_reproduce_per_seed(self):
        a, b = run.batch_inputs(3, "d"), run.batch_inputs(3, "d")
        self.assertEqual(a, b)
        self.assertNotEqual(a["orders"], run.batch_inputs(4, "d")["orders"])
        for order in a["orders"]:
            self.assertEqual(sorted(order), list(range(len(run.BATCH_QUERIES))))

    def test_batch_tables_are_fixed(self):
        a, b = gen.batch_tables(0.0001), gen.batch_tables(0.0001)
        self.assertEqual(a["documents"]["text"], b["documents"]["text"])
        self.assertEqual(list(a["lineitem"]["l_extendedprice"]),
                         list(b["lineitem"]["l_extendedprice"]))
        rng = random.Random(0)
        self.assertEqual(len(a["embeddings"]["embedding"][rng.randrange(500)]), 64)


if __name__ == "__main__":
    unittest.main()
