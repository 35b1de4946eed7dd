"""Tests of the benchmark's pure parts.  Run:  python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bench import cdcgen, stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_median_of_odd_and_even_samples(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_no_tail_below_forty_samples(self):
        samples = [(float(i), i) for i in range(40)]    # one event per batch
        self.assertIsNone(stats.tail(samples[:39], 50))
        self.assertEqual(stats.tail(samples, 50), 19.0)

    def test_tail_needs_ten_batches_beyond_it(self):
        # 100 events in 20 batches of 5: the p90 lies in the last two batches
        samples = [(float(b), b) for b in range(20) for _ in range(5)]
        self.assertIsNone(stats.tail(samples, 90))
        # the p50 has ten batches at or beyond it
        self.assertEqual(stats.tail(samples, 50), 9.0)

    def test_events_of_one_batch_count_once(self):
        # many events, but all of the tail sits in one commit
        samples = [(1.0, b) for b in range(60)] + [(9.0, 99)] * 40
        self.assertIsNone(stats.tail(samples, 95))

    def test_nearest_rank_is_an_observed_value(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 50), 20)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertEqual(stats.percentile(xs, 1), 10)


class GeneratorDeterminism(unittest.TestCase):
    def run_gen(self, seed):
        g = cdcgen.Generator(seed, 300)
        dumps = [g.dump(c) for c in cdcgen.COLLECTIONS]
        segs = [g.segment(50) for _ in range(4)]
        return dumps, segs, g.stale_rows(5)

    def test_same_seed_same_inputs(self):
        self.assertEqual(self.run_gen(11), self.run_gen(11))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self.run_gen(11)[1], self.run_gen(12)[1])

    def test_segments_are_json_lines_ending_in_an_applied_set(self):
        g = cdcgen.Generator(3, 100)
        lines = g.segment(30).splitlines()
        self.assertEqual(len(lines), 30)
        entries = [json.loads(ln) for ln in lines]
        self.assertEqual(entries[-1]["op"], "u")
        self.assertIn("$set", entries[-1]["o"])
        ts = [e["ts"] for e in entries]
        self.assertEqual(ts, sorted(ts))
        self.assertEqual(len(set(ts)), len(ts))

    def test_every_op_kind_occurs(self):
        g = cdcgen.Generator(5, 200)
        entries = [json.loads(ln) for _ in range(10) for ln in g.segment(100).splitlines()]
        ops = {e["op"] for e in entries}
        self.assertEqual(ops, {"i", "u", "d", "n", "c"})
        updates = [e["o"] for e in entries if e["op"] == "u"]
        self.assertTrue(any("$set" in o for o in updates))
        self.assertTrue(any("$unset" in o for o in updates))
        self.assertTrue(any(o.get("$v") == 2 for o in updates))
        self.assertTrue(any(not any(k.startswith("$") for k in o) for o in updates))
        self.assertTrue(any(e["ns"] == cdcgen.FOREIGN_NS for e in entries))

    def test_writer_keeps_doubles_and_escapes(self):
        self.assertEqual(cdcgen.render({"a": 2.0, "b": 2, "s": 'x"\\\n'}),
                         '{"a":2.0,"b":2,"s":"x\\"\\\\\\u000a"}')
        self.assertEqual(json.loads(cdcgen.render({"k": [1.5, None, True]})),
                         {"k": [1.5, None, True]})


class ReferenceFold(unittest.TestCase):
    NS = "bench.accounts"

    def fold(self, *entries):
        m = cdcgen.Model()
        for ts, e in enumerate(entries, 1):
            m.apply(dict(e, ts=ts))
        return m

    def insert(self, key, **doc):
        return {"op": "i", "ns": self.NS, "o": dict(_id=key, **doc)}

    def update(self, key, o):
        return {"op": "u", "ns": self.NS, "o": o, "o2": {"_id": key}}

    def test_partial_after_insert(self):
        m = self.fold(self.insert("a1", name="ann", age=30, addr={"city": "lyon", "zip": 1}),
                      self.update("a1", {"$set": {"age": 31, "addr.city": "oslo"}}))
        row = m.project("accounts", "a1")
        self.assertEqual((row["name"], row["age"], row["addr_city"], row["addr_zip"]),
                         ("ann", 31, "oslo", 1))
        self.assertIsNone(row["score"])

    def test_unset_of_a_subdocument_nulls_its_columns(self):
        m = self.fold(self.insert("a1", name="ann", addr={"city": "lyon", "zip": 1}),
                      self.update("a1", {"$set": {"visits": 3}, "$unset": {"addr": 1}}))
        row = m.project("accounts", "a1")
        self.assertEqual((row["visits"], row["addr_city"], row["addr_zip"]), (3, None, None))
        self.assertEqual(row["name"], "ann")

    def test_diff_sections(self):
        m = self.fold(self.insert("a1", tags=["x"], addr={"city": "lyon", "zip": 1}),
                      self.update("a1", {"$v": 2, "diff": {"u": {"age": 40}, "d": {"tags": False},
                                                           "saddr": {"u": {"zip": 7}}}}))
        row = m.project("accounts", "a1")
        self.assertEqual((row["age"], row["tags"], row["addr_city"], row["addr_zip"]),
                         (40, None, "lyon", 7))

    def test_replace_drops_absent_fields(self):
        m = self.fold(self.insert("a1", name="ann", age=30),
                      self.update("a1", {"_id": "a1", "name": "bo"}))
        row = m.project("accounts", "a1")
        self.assertEqual((row["name"], row["age"]), ("bo", None))

    def test_delete_then_reinsert(self):
        m = self.fold(self.insert("a1", name="ann", age=30),
                      {"op": "d", "ns": self.NS, "o": {"_id": "a1"}})
        self.assertIsNone(m.project("accounts", "a1"))
        m.apply(dict(self.insert("a1", name="cy"), ts=9))
        row = m.project("accounts", "a1")
        self.assertEqual((row["name"], row["age"]), ("cy", None))

    def test_transaction_inner_ops_share_one_ts_and_apply_in_order(self):
        txn = {"op": "c", "ns": cdcgen.HEARTBEAT_NS, "o": {"applyOps": [
            self.insert("a2", name="dee", age=5),
            self.update("a2", {"$set": {"age": 6}}),
            {"op": "i", "ns": "bench.carts", "o": {"_id": "c1", "status": "open"}},
            {"op": "i", "ns": cdcgen.FOREIGN_NS, "o": {"_id": "x"}},
            {"op": "d", "ns": self.NS, "o": {"_id": "a1"}},
        ]}}
        m = self.fold(self.insert("a1", name="ann"), txn)
        self.assertEqual(m.project("accounts", "a2")["age"], 6)
        self.assertIsNone(m.project("accounts", "a1"))
        self.assertEqual(m.project("carts", "c1")["status"], "open")

    def test_heartbeats_and_foreign_namespaces_change_nothing(self):
        m = self.fold(self.insert("a1", name="ann"),
                      {"op": "n", "ns": cdcgen.HEARTBEAT_NS, "o": {"msg": "noop"}},
                      {"op": "i", "ns": cdcgen.FOREIGN_NS, "o": {"_id": "a1", "name": "zz"}})
        self.assertEqual(m.project("accounts", "a1")["name"], "ann")

    def test_composites_compare_as_parsed_json(self):
        self.assertEqual(cdcgen.parse_sink_value("lines", '[{"qty":2,"sku":"k"}]'),
                         [{"sku": "k", "qty": 2}])
        self.assertEqual(cdcgen.parse_sink_value("name", "x"), "x")


if __name__ == "__main__":
    unittest.main()
