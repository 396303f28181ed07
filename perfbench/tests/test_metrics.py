"""Unit tests of the benchmark's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402

MS = 1_000_000  # ns per ms


def span(id_, name, parent, start_ms, end_ms, op=0, **counters):
    s = {"id": id_, "name": name, "parent": parent, "op": op,
         "start_ns": start_ms * MS, "end_ns": end_ms * MS}
    for c, _ in metrics.COUNTERS:
        s[c] = counters.get(c, 0)
    s["input_records"] = counters.get("input_records", 0)
    return s


class TailPercentile(unittest.TestCase):
    def test_highest_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(100, 99.9), 90.0)
        self.assertEqual(metrics.tail_percentile(200, 99.9), 95.0)
        self.assertEqual(metrics.tail_percentile(50, 99.9), 80.0)
        self.assertEqual(metrics.tail_percentile(40, 99.9), 75.0)

    def test_cap_and_floor(self):
        self.assertEqual(metrics.tail_percentile(10000, 95.0), 95.0)
        self.assertEqual(metrics.tail_percentile(20, 99.9), 50.0)
        # too few ops for any percentile to leave 10 beyond: the median
        self.assertEqual(metrics.tail_percentile(6, 99.9), 50.0)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.nearest_rank(xs, 90), 90)
        self.assertEqual(metrics.nearest_rank(xs, 50), 50)
        self.assertEqual(metrics.nearest_rank([5, 1, 3], 50), 3)
        self.assertEqual(sum(1 for x in xs if x > metrics.nearest_rank(xs, 90)), 10)


class SelfTime(unittest.TestCase):
    def test_children_merged_and_clipped(self):
        parent = span(1, "op.batch", -1, 0, 100)
        spans = [parent,
                 span(2, "a", 1, 10, 30), span(3, "b", 1, 20, 50),  # overlap: 10..50
                 span(4, "c", 1, 60, 70),
                 span(5, "d", 1, 90, 120),                            # clipped to 90..100
                 span(6, "grandchild", 2, 0, 100)]                    # not a direct child
        self.assertAlmostEqual(metrics.self_ms(parent, spans), 100 - 40 - 10 - 10)

    def test_leaf_is_all_self(self):
        leaf = span(2, "a", 1, 10, 30)
        self.assertAlmostEqual(metrics.self_ms(leaf, [leaf]), 20)


class Agreement(unittest.TestCase):
    BOUNDS = [{"name": "setup_s", "better": "lower", "bound": 0.25},
              {"name": "lat", "better": "lower", "bound": 0.1},
              {"name": "rate", "better": "higher", "bound": 0.1}]

    def sets(self, lat2=1.0, rate2=1.0, setup_spread=0.0, lat_spread=0.0):
        def vals(base, spread):
            return [base * (1 + spread * (i - 4.5) / 9) for i in range(10)]
        first = {"setup_s": vals(10, setup_spread), "lat": vals(100, lat_spread),
                 "rate": vals(50, 0.0)}
        second = {"setup_s": vals(10, setup_spread), "lat": vals(100 * lat2, lat_spread),
                  "rate": vals(50 * rate2, 0.0)}
        return first, second

    def test_same_sets_agree(self):
        out = metrics.agreement(*self.sets(), self.BOUNDS)
        self.assertTrue(all(ok for ok, _ in out.values()))

    def test_worse_median_fails_in_the_metric_direction(self):
        out = metrics.agreement(*self.sets(lat2=1.2, rate2=0.8), self.BOUNDS)
        self.assertFalse(out["lat"][0])
        self.assertFalse(out["rate"][0])
        better = metrics.agreement(*self.sets(lat2=0.8, rate2=1.2), self.BOUNDS)
        self.assertTrue(better["lat"][0] and better["rate"][0])

    def test_spread_fails_except_for_setup(self):
        out = metrics.agreement(*self.sets(setup_spread=1.0, lat_spread=1.0), self.BOUNDS)
        self.assertTrue(out["setup_s"][0])
        self.assertFalse(out["lat"][0])
        self.assertGreater(out["lat"][1]["spread_1"], 0.1)


class PerLayer(unittest.TestCase):
    def test_schema_fits_and_matches(self):
        schema = metrics.per_layer_schema()
        self.assertLessEqual(len(schema), 128)
        res = {"ops": [[0, "vector_search", 5.0, True, 16, 160]],
               "facts": {"docs_rejected": 0, "docs_probed": 0},
               "session_s": 1.0, "setup_steps_s": {"fit": 1.0, "store_build": 2.0}}
        spans = [span(1, "op.vector_search", -1, 0, 5),
                 span(2, "vector.index_load", 1, 0, 1),
                 span(3, "vector.search", 1, 1, 5, jobs=3, input_records=800)]
        m = metrics.per_layer(res, spans)
        self.assertEqual([n for n, _, _ in schema], list(m))
        self.assertEqual(m["vector.index_cache_hit_ratio"], 1.0)
        self.assertEqual(m["vector.rows_read_per_result"], 5.0)
        self.assertEqual(m["vector.search.jobs"], 3)
        self.assertEqual(m["dedup.keys.total_ms"], 0)

    def test_benchmark_json_lists_the_metrics(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        bench = json.load(open(path))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         metrics.per_layer_schema())


if __name__ == "__main__":
    unittest.main()
