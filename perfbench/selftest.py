#!/usr/bin/env python3
"""Self-tests of the benchmark's own logic.

    python3 perfbench/selftest.py            # all tests (builds, ~6 min)
    python3 perfbench/selftest.py Logic      # the pure-Python tests only

Run from the repository root. `Logic` checks the tail-percentile rule,
span self-time arithmetic and answer normalization. `TemplatePairs` runs
every parameter value of every SPARQL template on a tiny scale (sf0.001)
through both stores and checks each answer against its SQL twin in
DuckDB.
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class Logic(unittest.TestCase):

    def test_tail_keeps_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        value, pct, beyond = M.tail(xs)
        self.assertEqual((value, pct, beyond), (90.0, 90.0, 10))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_tail_ignores_input_order(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(M.tail(xs), (2.0, 100.0 * 2 / 12, 10))

    def test_tail_with_too_few_samples_is_the_maximum(self):
        self.assertEqual(M.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(M.tail([]), (0.0, 0.0, 0))

    def test_self_time_subtracts_the_union_of_children(self):
        # root 0..100 ns; children 10..40 and 30..50 overlap (union 40 ns)
        # and one child 90..120 ns sticks out of the root (counts 10 ns)
        spans = [(0, -1, 7, "query", "window", 0, 100),
                 (1, 0, 7, "a", "window", 10, 40),
                 (2, 0, 7, "b", "window", 30, 50),
                 (3, 0, 7, "c", "window", 90, 120),
                 (4, 1, 7, "a.inner", "window", 15, 20)]
        own = M.self_times(spans)
        self.assertAlmostEqual(own[0], 50e-9)
        self.assertAlmostEqual(own[1], 25e-9)
        self.assertAlmostEqual(own[2], 20e-9)
        self.assertAlmostEqual(own[4], 5e-9)

    def test_self_time_of_a_leaf_is_its_duration(self):
        self.assertAlmostEqual(M.self_times([(0, -1, 0, "x", "setup", 5, 2005)])[0], 2e-6)

    def test_layer_metric_is_the_median_per_operation(self):
        spans = [(0, -1, 1, "sparql.parse", "window", 0, 1000),
                 (1, -1, 1, "sparql.parse", "window", 2000, 3000),
                 (2, -1, 2, "sparql.parse", "window", 0, 5000),
                 (3, -1, 3, "sparql.parse", "window", 0, 7000),
                 (4, -1, -1, "sparql.stats", "setup", 0, 9000)]
        raw = {"workload": "analytic_terms", "spans": spans, "ops": [], "stages": [],
               "store_files": 0, "store_bytes": 0, "probe_store_files": 1,
               "probe_store_bytes": 1}
        m, source = M.layer_metrics(raw)
        self.assertAlmostEqual(m["sparql.parse_s"][0], 5e-6)  # ops sum 2, 5, 7 us
        self.assertAlmostEqual(m["sparql.stats_s"][0], 9e-6)
        self.assertEqual(source["sparql.stats_s"], "setup")
        self.assertEqual(source["dict.append_s"], "idle")

    def test_template_p50_is_the_geometric_mean_of_template_medians(self):
        ops = [{"inst": "a:1", "wall_s": 1.0}, {"inst": "a:2", "wall_s": 3.0},
               {"inst": "a:1", "wall_s": 2.0}, {"inst": "b:x", "wall_s": 8.0}]
        self.assertAlmostEqual(M.template_p50(ops), 4.0)  # sqrt(2 * 8)
        self.assertAlmostEqual(M.template_p50(ops[:3]), 2.0)
        self.assertEqual(M.template_p50([]), 0.0)

    def test_digest_ignores_row_order_and_last_bits(self):
        cols = [["n", "bigint"], ["a", "string"], ["x", "double"]]
        a = M.digest(cols, [[1, "p", 0.1 + 0.2], [2, "q", None]])
        b = M.digest(cols, [[2, "q", float("nan")], [1, "p", 0.3]])
        self.assertEqual(a, b)
        self.assertNotEqual(a, M.digest(cols, [[1, "p", 0.31], [2, "q", None]]))

    def test_templates_have_distinct_names(self):
        names = [t.name for t in gen.ANALYTIC + gen.LOOKUPS + [gen.BASE_LOOKUP]]
        self.assertEqual(len(names), len(set(names)))

    def test_draws_hold_every_template_once_per_round(self):
        insts, _, draws = gen.analytic_draws(3, n_rounds=5)
        template = {i["id"]: i["template"] for i in insts}
        n = len(gen.ANALYTIC)
        for r in range(5):
            self.assertEqual(len({template[d] for d in draws[r * n:(r + 1) * n]}), n)
        self.assertEqual(gen.analytic_draws(3, n_rounds=5), gen.analytic_draws(3, n_rounds=5))


class TemplatePairs(unittest.TestCase):
    """Every template parameter on both stores, against DuckDB."""

    @classmethod
    def setUpClass(cls):
        run.build()

    def check(self, workload, edit_plan=None):
        # one second: the fewest rounds (ingest: epochs) the plan allows
        raw, checks, _ = run.execute(workload, seed=1, seconds=1, trace=0, sf=0.001,
                                     setup_reps=1, edit_plan=edit_plan)
        self.assertEqual(raw["errors"], [])
        bad = {k: c for k, c in checks.items() if not c["match"]}
        self.assertEqual(bad, {})
        return checks

    def every_analytic_instance(self, plan, insts):
        every = [t.instance(p) for t in gen.ANALYTIC for p in t.params]
        insts[:] = every
        plan["instances"] = [{k: i[k] for k in ("id", "query", "cols")} for i in every]
        plan["draws"] = [i["id"] for i in every]
        plan["round"] = len(every)
        plan["min_rounds"] = 1

    def test_analytic_terms(self):
        checks = self.check("analytic_terms", self.every_analytic_instance)
        self.assertEqual(len(checks), sum(len(t.params) for t in gen.ANALYTIC))

    def test_analytic_dict(self):
        checks = self.check("analytic_dict", self.every_analytic_instance)
        self.assertEqual(len(checks), sum(len(t.params) for t in gen.ANALYTIC))

    def test_oracle_catches_a_wrong_answer(self):
        def shift(plan, insts):
            # every path_seq instance filters one quantity higher than its SQL twin
            for i in plan["instances"]:
                if i["id"].startswith("path_seq:"):
                    i["query"] = i["query"].replace("(?q > ", "(?q > 1 + ")
        raw, checks, _ = run.execute("analytic_terms", seed=1, seconds=1, trace=0, sf=0.001,
                                     setup_reps=1, edit_plan=shift)
        bad = {k for k, c in checks.items() if not c["match"]}
        self.assertTrue(bad)
        self.assertEqual(bad, {k for k in checks if k.startswith("path_seq:")})

    def test_ingest_lookups(self):
        checks = self.check("ingest_dict")
        self.assertEqual({k.split(":")[0] for k in checks},
                         {t.name for t in gen.LOOKUPS + [gen.BASE_LOOKUP]})


if __name__ == "__main__":
    unittest.main()
