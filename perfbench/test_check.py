"""Tests of the benchmark's own checker, on inputs generated at sf0.001.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

A correct simulated run must pass; each seeded defect must flip the
verdict to failed."""
import copy
import os
import shutil
import tempfile
import unittest

import check
import gen
import run

SPEC = {"pk": run.LINEITEM_PK, "version": "version", "value_cols": run.VALUE_COLS,
        "allowed": run.DELIVERED_COLS, "base_mark": 1}


def simulate(generated, fault_every):
    """The records a correct harness run makes: one commit per operation,
    then drains until delivered, the endpoint failing every
    `fault_every`-th POST from the third on."""
    ops, posts, seq, mark = [], {}, 0, 1
    for k, i in enumerate(sorted(generated)):
        version = mark + 1
        attempts = []
        while True:
            seq += 1
            fault = fault_every and seq % fault_every == 3 % fault_every
            if fault:
                posts[seq] = (503, None)
                attempts.append({"from": mark, "to": version, "disposition": "RetryScheduled",
                                 "hwm_after": mark, "seq_lo": seq - 1, "seq_hi": seq})
                continue
            want = check.expected_latest(generated, [i], SPEC["pk"], "version",
                                         SPEC["value_cols"])
            body = [{"Operation": "Upsert", "Item": {
                "l_orderkey": key[0], "l_linenumber": key[1], "version": v,
                "l_quantity": vals[0], "l_extendedprice": vals[1],
                "l_shipdate": "1999-01-01T00:00:00.000Z"}} for key, (v, vals) in want.items()]
            posts[seq] = (200, body)
            attempts.append({"from": mark, "to": version, "disposition": "Delivered",
                             "hwm_after": -1, "seq_lo": seq - 1, "seq_hi": seq})
            break
        ops.append({"op": k + 1, "commits": [{"set": i, "version": version}],
                    "rows": len(generated[i]["version"]), "attempts": attempts, "error": None})
        mark = version
    return ops, posts


def verdict(ops, posts, generated):
    failed, problems, _ = check.check_cdc(ops, posts, generated, SPEC)
    return not failed and not problems


class CdcCheckerTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        # sf0.001: a 6000-row base, change sets of 60 rows
        _, sets = gen.cdc_inputs(cls.tmp, 7, n_sets=12, rows_per_set=60, base_rows=6000)
        cols = run.LINEITEM_PK + ["version"] + run.VALUE_COLS
        cls.generated = {i: t.select(cols).to_pydict() for i, (_, t) in enumerate(sets)}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def run_ok(self):
        ops, posts = simulate(self.generated, fault_every=5)
        self.assertTrue(verdict(ops, posts, self.generated))
        return ops, posts

    def first_body(self, posts):
        return next(b for s, (st, b) in sorted(posts.items()) if st == 200)

    def test_correct_run_passes_and_counts_redeliveries(self):
        ops, posts = self.run_ok()
        _, _, counts = check.check_cdc(ops, posts, self.generated, SPEC)
        self.assertEqual(counts["redeliveries"], 3)
        self.assertEqual(counts["faults"], 3)
        self.assertEqual(counts["retry_scheduled"], 3)

    def test_dropped_row_fails(self):
        ops, posts = self.run_ok()
        self.first_body(posts).pop()
        self.assertFalse(verdict(ops, posts, self.generated))

    def test_stale_version_fails(self):
        ops, posts = self.run_ok()
        body = self.first_body(posts)
        # the generated sets repeat keys, so an older version of a key exists
        cols = self.generated[0]
        seen = {}
        for k0, k1, v in zip(cols["l_orderkey"], cols["l_linenumber"], cols["version"]):
            seen.setdefault((k0, k1), []).append(v)
        key, versions = next((k, vs) for k, vs in seen.items() if len(vs) > 1)
        rec = next(r for r in body
                   if (r["Item"]["l_orderkey"], r["Item"]["l_linenumber"]) == key)
        rec["Item"]["version"] = min(versions)
        self.assertFalse(verdict(ops, posts, self.generated))

    def test_column_outside_allowlist_fails(self):
        ops, posts = self.run_ok()
        self.first_body(posts)[0]["Item"]["l_tax"] = 0.02
        self.assertFalse(verdict(ops, posts, self.generated))

    def test_mark_advancing_after_503_fails(self):
        ops, posts = self.run_ok()
        op = next(o for o in ops if len(o["attempts"]) > 1)
        op["attempts"][0]["hwm_after"] = op["attempts"][0]["to"]
        self.assertFalse(verdict(ops, posts, self.generated))

    def test_delivered_despite_fault_fails(self):
        ops, posts = self.run_ok()
        op = next(o for o in ops if len(o["attempts"]) > 1)
        bad = copy.deepcopy(op["attempts"][0])
        bad["disposition"] = "Delivered"
        op["attempts"][0] = bad
        self.assertFalse(verdict(ops, posts, self.generated))

    def test_undelivered_range_fails(self):
        ops, posts = self.run_ok()
        ops[-1]["attempts"] = ops[-1]["attempts"][:1]
        ops[-1]["attempts"][0]["disposition"] = "RetryScheduled"
        self.assertFalse(verdict(ops, posts, self.generated))


class QueryCheckerTest(unittest.TestCase):
    def test_row_counts_against_duckdb_at_sf0001(self):
        tmp = tempfile.mkdtemp()
        try:
            gen.suite_tables(tmp, 3, sf=0.001)
            oracle = {"q_lines": "SELECT l_orderkey FROM lineitem ORDER BY 1",
                      "q_regions": "SELECT r_name FROM region;"}
            expected = run.oracle_rows(tmp, oracle)
            self.assertEqual(expected, {"q_lines": 6000, "q_regions": 5})
            ok = [{"op": 1, "name": "q_lines", "rows": 6000, "error": None},
                  {"op": 2, "name": "q_regions", "rows": 5, "error": None}]
            self.assertEqual(check.check_queries(ok, expected), {})
            wrong = copy.deepcopy(ok)
            wrong[1]["rows"] = 4
            self.assertEqual(list(check.check_queries(wrong, expected)), [2])
            threw = copy.deepcopy(ok)
            threw[0]["error"] = "java.lang.RuntimeException: boom"
            self.assertEqual(list(check.check_queries(threw, expected)), [1])
            no_oracle = [{"op": 3, "name": "q_other", "rows": 1, "error": None}]
            self.assertEqual(list(check.check_queries(no_oracle, expected)), [3])
        finally:
            shutil.rmtree(tmp)


class StatsTest(unittest.TestCase):
    def test_tail_percentile_has_ten_samples_beyond(self):
        self.assertIsNone(check.tail_percentile(list(range(19))))
        self.assertEqual(check.tail_percentile(list(range(1, 21)))[0], 50.0)
        self.assertEqual(check.tail_percentile(list(range(1, 40)))[0], 50.0)
        self.assertEqual(check.tail_percentile(list(range(1, 41))), (75.0, 30))
        self.assertEqual(check.tail_percentile(list(range(1, 101))), (90.0, 90))
        self.assertEqual(check.tail_percentile(list(range(1, 200)))[0], 90.0)
        self.assertEqual(check.tail_percentile(list(range(1, 201)))[0], 95.0)
        self.assertEqual(check.tail_percentile(list(range(1, 1001)))[0], 99.0)
        for n in (20, 37, 40, 150, 1000, 20000):
            p, v = check.tail_percentile(list(range(n)))
            self.assertGreaterEqual(sum(1 for x in range(n) if x > v), 10)

    def test_union_length(self):
        self.assertEqual(check.union_length([]), 0)
        self.assertEqual(check.union_length([(0, 10), (5, 12), (20, 25)]), 17)
        self.assertEqual(check.union_length([(3, 4), (0, 10)]), 10)


if __name__ == "__main__":
    unittest.main()
