"""Tests for the benchmark's own rules (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import gen
import metrics


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))                 # 1..100
        self.assertEqual(metrics.tail(xs), (90, 90, 100))
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99)
        # n = 30: p66 leaves 30 - ceil(19.8) = 10 beyond, p67 only 9
        p, v, n = metrics.tail(list(range(30)))
        self.assertEqual((p, v, n), (66, 19, 30))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_small_samples_fall_back_to_maximum(self):
        self.assertEqual(metrics.tail(list(range(20)))[0], 50)
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (100, 3.0, 3))
        self.assertEqual(metrics.tail(list(range(19))), (100, 18, 19))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, t0, t1, name="x"):
        return {"id": i, "parent": parent, "t0": t0, "t1": t1, "name": name, "op": 0}

    def test_wall_minus_union_of_children(self):
        spans = [self.span(0, -1, 0.0, 10.0),
                 self.span(1, 0, 1.0, 3.0), self.span(2, 0, 2.0, 5.0),
                 self.span(3, 0, 7.0, 8.0),
                 self.span(4, 0, 9.0, 12.0),   # clipped to the parent's end
                 self.span(5, 1, 1.5, 2.5)]    # a grandchild: not counted twice
        own = metrics.self_times(spans)
        self.assertAlmostEqual(own[0], 10.0 - (4.0 + 1.0 + 1.0))
        self.assertAlmostEqual(own[1], 2.0 - 1.0)
        self.assertAlmostEqual(own[5], 1.0)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)


class PerLayer(unittest.TestCase):
    def test_jobs_attribute_to_their_span_per_call(self):
        spans = [
            {"id": 0, "parent": -1, "name": "op.write.x", "op": 0, "t0": 0, "t1": 4},
            {"id": 1, "parent": 0, "name": "ext.Dedup.exact", "op": 0, "t0": 1, "t1": 2},
            {"id": 2, "parent": 0, "name": "ext.Dedup.exact", "op": 0, "t0": 2, "t1": 4},
            {"id": 3, "parent": -1, "name": "check", "op": -1, "t0": 4, "t1": 5}]
        job = dict(stages=1, failed_tasks=0, task_ms=2000, shuffle_write=0,
                   input=0, output=0, spill=0)
        res = {"spans": spans, "cores": 4, "gc_s": 0.1, "ratios": {},
               "ops": [{"kind": "write", "lat": 4.0, "ok": True, "rows": 1},
                       {"kind": "read", "lat": 1.0, "ok": True, "rows": 0}],
               "jobs": [dict(job, id=1, span=1), dict(job, id=2, span=2),
                        dict(job, id=3, span=2), dict(job, id=4, span=3)]}
        m = {k: v for k, (v, _) in metrics.per_layer(res).items()}
        self.assertEqual(m["ext.Dedup.exact.jobs"], 1.5)
        self.assertEqual(m["ext.Dedup.exact.self_s"], 1.5)
        self.assertEqual(m["spark.jobs_per_op"], 1.5)    # the check's job is no op's
        self.assertAlmostEqual(m["spark.idle_share"], 1 - 6.0 / 20.0)
        self.assertEqual(set(m), {n for n, _ in metrics.per_layer_names()})
        self.assertNotIn("ext.IvfPq.load.self_s", m)
        self.assertIn("ext.IvfPq.load.self_s",
                      {k for k in metrics.per_layer(res, hand_run=True)})


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digest(self, workload, seed, tag):
        out = os.path.join(self.tmp, "%s-%d-%s" % (workload, seed, tag))
        gen.generate(workload, seed, out, 1)
        return gen.digest(out)

    def test_same_seed_same_digest_other_seed_other_digest(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a = self.digest(w, 5, "a")
                self.assertEqual(a, self.digest(w, 5, "b"))
                self.assertNotEqual(a, self.digest(w, 6, "a"))

    def test_inputs_come_from_the_extract(self):
        ev = gen._extract("events.parquet")
        by_id = {e: (u, v) for e, u, v in zip(ev["event_id"], ev["user_id"], ev["value"])}
        out = os.path.join(self.tmp, "etl")
        gen.generate("etl_cycle", 3, out, 1)
        with open(os.path.join(out, "c000", "flows.jsonl")) as f:
            flows = [json.loads(line) for line in f if line.rstrip().endswith("}")]
        self.assertGreater(len(flows), 0.9 * gen.FLOW_LINES)
        for e in flows:
            self.assertEqual((e["user_id"], round(e["value"], 2)), by_id[e["event_id"]])

        docs = set(gen._extract("documents.parquet")["text"])
        shares = gen._shapes()["documents"]
        out = os.path.join(self.tmp, "dedup")
        truth = gen.generate("dedup_batch", 3, out, 1)
        for s in truth["slices"]:
            self.assertEqual(len(s["exact_dups"]),
                             round(gen.DOCS_PER_SLICE * shares["exact_share"]))
            self.assertEqual(len(s["near_pairs"]),
                             round(gen.DOCS_PER_SLICE * shares["near_share"]))
        corpus = pq.read_table(os.path.join(out, "corpus.parquet")).to_pydict()
        for i, t in zip(corpus["doc_id"], corpus["text"]):
            if i < gen.INJECTED_ID0:
                self.assertIn(t, docs)


if __name__ == "__main__":
    unittest.main()
