"""Tests of the benchmark's own logic (no JVM needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import compare  # noqa: E402
import datagen  # noqa: E402
import metrics as M  # noqa: E402
import model  # noqa: E402


def pot_initial(paths=4, docs=20):
    rows = [(i, f"Customer#{i:09d}", i % 25, i * 1.25, "BUILDING")
            for i in range(paths * docs)]
    return model.pot_initial(rows, paths, docs)


def records_from_expectations(workload, ops):
    """What a correct store would report for each operation."""
    recs = []
    for i, op in enumerate(ops):
        r = {"i": i, "kind": op["kind"], "class": op["class"], "warm": False,
             "ms": 1.0}
        if workload == "pot-parity":
            r["outcome"], r["result"] = op["expect"]
        else:
            r["outcome"] = "ok"
            exp = op["expect"]
            if op["kind"] == "count":
                r["result"] = [[str(exp)]]
            elif op["kind"] == "agg":
                r["result"] = [[s, str(n), str(q)] for s, (n, q) in exp.items()]
            elif op["class"] == "read":
                r["result"] = [[k, model.jdump(d)] for k, d in exp]
        recs.append(r)
    return recs


class PercentileRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertTrue(M.backed(20, 50))
        self.assertFalse(M.backed(19, 50))
        self.assertTrue(M.backed(200, 95))
        self.assertFalse(M.backed(199, 95))
        self.assertEqual(M.highest_backed(199), 90)
        self.assertEqual(M.highest_backed(40), 75)
        self.assertIsNone(M.highest_backed(19))

    def test_interpolated_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(M.percentile(xs, 95), 95.05)
        self.assertEqual(M.percentile([3, 1, 2, 10], 50), 2.5)
        self.assertEqual(M.beyond(100, 95), 5)

    def test_spread_and_geomean(self):
        self.assertAlmostEqual(M.geomean([1.0, 100.0]), 10.0)
        self.assertEqual(M.spread([5.0] * 10), 0.0)


class Spans(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(M.covered(0, 10, [(1, 3), (2, 4), (8, 12)]), 5)

    def test_self_time_per_layer(self):
        spans = [
            {"id": "call-1", "parent": "op-1", "layer": "kv", "name": "get",
             "start_ms": 0, "end_ms": 10},
            {"id": "job-1", "parent": "call-1", "layer": "spark",
             "name": "job", "start_ms": 2, "end_ms": 8},
            {"id": "stage-1", "parent": "job-1", "layer": "spark",
             "name": "stage", "start_ms": 3, "end_ms": 7}]
        st = M.self_times(spans)
        self.assertEqual(st, {"kv": 4, "spark.job": 2, "spark.stage": 4})


class PotReplay(unittest.TestCase):
    def setUp(self):
        self.initial = pot_initial()
        self.ops = model.pot_ops(7, self.initial, 400)

    def test_mix_is_exact_per_block(self):
        kinds = [o["kind"] for o in self.ops[:20]]
        for k, c in model.POT_MIX.items():
            self.assertEqual(kinds.count(k), c)

    def test_correct_store_passes(self):
        recs = records_from_expectations("pot-parity", self.ops)
        res = model.replay("pot-parity", self.ops, recs)
        self.assertEqual(res["wrong"], [])
        self.assertEqual(res["unexpected"], [])
        self.assertEqual(res["checked"], 400)

    def test_wrong_read_is_caught(self):
        recs = records_from_expectations("pot-parity", self.ops)
        i = next(i for i, o in enumerate(self.ops) if o["kind"] == "get")
        recs[i]["result"] = "0" * 32
        res = model.replay("pot-parity", self.ops, recs)
        self.assertEqual(res["wrong"], [(i, "get")])

    def test_error_counts_as_unexpected(self):
        recs = records_from_expectations("pot-parity", self.ops)
        recs[3]["outcome"] = "error: boom"
        self.assertEqual(len(model.replay("pot-parity", self.ops,
                                          recs)["unexpected"]), 1)

    def test_replay_of_prefix_matches_generation(self):
        m = model.PotModel(self.initial)
        for op in self.ops[:123]:
            self.assertEqual(m.apply(op), op["expect"])


class RefusalAccounting(unittest.TestCase):
    def setUp(self):
        self.ops = model.pot_ops(11, pot_initial(), 600)
        self.creates = [o for o in self.ops if o["kind"] == "create"]

    def test_half_of_creates_are_planned_refusals(self):
        owner = [o for o in self.creates if o["client"] == "owner"]
        other = [o for o in self.creates if o["client"] == "other"]
        self.assertEqual(len(owner), len(other))
        self.assertTrue(all(o["expect"][0] == "ok" for o in owner))
        self.assertTrue(all(o["expect"][0] == "refused" for o in other))

    def test_owner_rewrites_a_live_key(self):
        owner = [o for o in self.creates if o["client"] == "owner"]
        self.assertTrue(any(not o["check"] for o in owner))

    def test_missing_refusal_is_a_failure(self):
        recs = records_from_expectations("pot-parity", self.ops)
        i = next(i for i, o in enumerate(self.ops)
                 if o["kind"] == "create" and o["client"] == "other")
        recs[i]["outcome"], recs[i]["result"] = "ok", "9"
        res = model.replay("pot-parity", self.ops, recs)
        self.assertEqual(res["refusals"], res["planned_refusals"] - 1)
        self.assertIn((i, "create"), res["wrong"])

    def test_remove_revokes_owner_rewrite(self):
        m = model.PotModel(pot_initial(paths=1))
        key = sorted(m.paths["p00"])[0]
        doc = [key, "x", 1, 2, "BUILDING", 1]
        m.apply({"kind": "remove", "path": "p00", "keys": ["nokey"]})
        self.assertTrue(m.create_refused("owner", "p00", [doc]))
        m.apply({"kind": "upsert", "path": "p00", "docs": [doc]})
        self.assertFalse(m.create_refused("owner", "p00", [doc]))
        self.assertTrue(m.create_refused("other", "p00", [doc]))


class SqlReplay(unittest.TestCase):
    def setUp(self):
        rows = [(i, i % 97, "FOP"[i % 3], 1000.0 + i, "1-URGENT")
                for i in range(300)]
        self.initial = model.sql_initial(rows)
        self.ops = model.sql_ops(5, self.initial, 300)

    def test_correct_store_passes(self):
        recs = records_from_expectations("bucketed-sql", self.ops)
        res = model.replay("bucketed-sql", self.ops, recs)
        self.assertEqual(res["wrong"], [])

    def test_maintenance_closes_every_unit(self):
        for u in range(len(self.ops) // model.SQL_UNIT):
            unit = self.ops[u * model.SQL_UNIT:(u + 1) * model.SQL_UNIT]
            self.assertEqual([o["kind"] for o in unit[-2:]],
                             ["compact", "vacuum"])
            self.assertEqual(sum(o["class"] == "write" for o in unit),
                             sum(model.SQL_WRITE_MIX.values()))

    def test_stale_point_read_is_caught(self):
        recs = records_from_expectations("bucketed-sql", self.ops)
        i = next(i for i, o in enumerate(self.ops)
                 if o["kind"] == "point" and o["expect"])
        recs[i]["result"] = []
        res = model.replay("bucketed-sql", self.ops, recs)
        self.assertEqual(res["wrong"], [(i, "point")])

    def test_deleted_keys_leave_the_model(self):
        m = model.SqlModel(self.initial)
        for op in self.ops:
            m.apply(op)
            if op["kind"] == "delete":
                self.assertFalse(set(op["keys"]) & set(m.docs))


class Generator(unittest.TestCase):
    def test_same_seed_same_tables(self):
        for t in ("orders", "documents", "embeddings", "events"):
            a = datagen.GENERATORS[t](3, 0.05)
            self.assertTrue(a.equals(datagen.GENERATORS[t](3, 0.05)))
            self.assertFalse(a.equals(datagen.GENERATORS[t](4, 0.05)))

    def test_same_seed_same_ops(self):
        self.assertEqual(model.pot_ops(9, pot_initial(), 100),
                         model.pot_ops(9, pot_initial(), 100))


class Verdicts(unittest.TestCase):
    def test_wide_spread_is_unresolved(self):
        base = [100, 80, 120, 90, 110]
        self.assertEqual(compare.verdict(base, [101, 79, 121, 91, 109],
                                         "lower", 0.1), "unresolved")

    def test_worse_and_unchanged(self):
        base = [100, 101, 99, 100, 100]
        self.assertEqual(compare.verdict(base, [120, 121, 119, 120, 120],
                                         "lower", 0.1), "worse")
        self.assertEqual(compare.verdict(base, [100, 100.5, 99.5, 100, 101],
                                         "lower", 0.1), "unchanged")
        self.assertEqual(compare.verdict(base, [120, 121, 119, 120, 120],
                                         "higher", 0.1), "better")


if __name__ == "__main__":
    unittest.main()
