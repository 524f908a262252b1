"""Generator determinism and ground truth per seed.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402


class IngestGeneratorTest(unittest.TestCase):
    def test_same_seed_same_records(self):
        self.assertEqual(gen.ingest_records(7, 500), gen.ingest_records(7, 500))
        self.assertEqual(gen.templates(7), gen.templates(7))
        self.assertNotEqual(gen.ingest_records(7, 500), gen.ingest_records(8, 500))

    def test_record_kinds_and_sizes(self):
        tpls = gen.templates(3)
        recs = gen.ingest_records(3, 5000)
        kinds = [r[0] for r in recs]
        self.assertTrue(20 <= kinds.count(gen.MALFORMED) <= 80)
        self.assertTrue(20 <= kinds.count(gen.MISSING_CREATED) <= 80)
        for k, r in enumerate(recs[:2000]):
            line = gen.ingest_line(tpls, k, r, 1.7e9 + k / 1000.0)
            self.assertNotIn("\n", line)
            if r[0] == gen.MALFORMED:
                with self.assertRaises(ValueError):
                    json.loads(line)
                continue
            rec = json.loads(line)
            self.assertEqual(rec["seq"], k)
            self.assertEqual(rec["correlation_id"], r[2])
            if r[0] == gen.MISSING_CREATED:
                self.assertNotIn("created", rec)
            else:
                self.assertEqual(rec["created"], 1.7e9 + k / 1000.0)
                self.assertTrue(250 <= len(line) <= 2100, len(line))
                self.assertEqual(len([f for f in rec if f != "seq"]) >= 23, True)

    def test_plan_phases(self):
        dues, phases = gen.ingest_plan(rate=100, warmup_s=1, steady_s=2, bursts=2,
                                       burst_size=50, burst_gap_s=5, lead_s=1)
        self.assertEqual(phases["warmup"], [0, 100])
        self.assertEqual(phases["steady"], [100, 300])
        self.assertEqual(phases["burst0"], [300, 350])
        self.assertEqual(phases["burst1"], [350, 400])
        self.assertEqual(dues[299], 2.99)
        self.assertEqual(set(dues[300:350]), {4.0})
        self.assertEqual(set(dues[350:]), {9.0})


class LogQueryTruthTest(unittest.TestCase):
    cfg = {"records": 600, "days": 4, "start_day": 19700}

    def corpus(self, seed):
        files, recs, pool, tokens = gen.log_corpus(seed, 600, 4, 4, 19700)
        return files, recs, pool, tokens, gen.span_rows(seed, recs)

    def test_corpus_deterministic_per_seed(self):
        a, b = self.corpus(5), self.corpus(5)
        self.assertEqual(a, b)
        self.assertNotEqual(a[1], self.corpus(6)[1])

    def test_corpus_layout(self):
        files, recs, _, _, _ = self.corpus(5)
        self.assertEqual(sum(len(f) for f in files), 600)
        created = [r["created"] for r in recs]
        self.assertEqual(created, sorted(created))
        self.assertEqual(len(set(created)), 600)
        self.assertTrue(all(c != int(c) for c in created))

    def test_ops_and_truth_deterministic(self):
        files, recs, pool, tokens, spans = self.corpus(5)
        ops = run.log_query_ops(5, 2, recs, pool, spans, tokens, self.cfg)
        self.assertEqual(ops, run.log_query_ops(5, 2, recs, pool, spans, tokens, self.cfg))
        self.assertEqual(sorted(o["op"] for o in ops[:16]), sorted(run.POINT_OPS * 2 + run.SCAN_OPS))
        ctx = {c["correlation_id"]: c["data_raw"] for c in gen.context_rows(5, pool)}
        for o in ops:
            t1 = run.log_query_truth(o, recs, ctx, spans)
            self.assertEqual(t1, run.log_query_truth(o, recs, ctx, spans))
            self.assertTrue(run.same_answer(o["op"], t1, t1))

    def test_truth_values(self):
        files, recs, pool, tokens, spans = self.corpus(5)
        a = 19700 * gen.DAY_S
        n = run.log_query_truth({"op": "range_count", "from": a, "to": a + 4 * gen.DAY_S},
                                recs, {}, spans)
        self.assertEqual(n, [600])
        cid = recs[0]["correlation_id"]
        self.assertEqual(run.log_query_truth({"op": "lookup", "id": cid.upper()}, recs, {}, spans),
                         sorted(r["seq"] for r in recs if r["correlation_id"] == cid))
        keys = run.log_query_truth({"op": "keys", "from": a, "to": a + gen.DAY_S}, recs, {}, spans)
        self.assertNotIn("created", keys)
        self.assertIn("seq", keys)


if __name__ == "__main__":
    unittest.main()
