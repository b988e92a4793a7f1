"""Offline self-tests of the benchmark's helpers (no JVM, no build).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import spread  # noqa: E402

PRETTY = """+----------+----------+-------+
| COUNT(*) | category |  p50  |
+----------+----------+-------+
|        3 | books    |   1.5 |
|       12 | toys     |       |
+----------+----------+-------+
(2 rows)
"""


class PrettyTableTest(unittest.TestCase):
    def test_parses_header_rows_and_footer(self):
        header, rows, n = oracle.parse_pretty(PRETTY)
        self.assertEqual(header, ["COUNT(*)", "category", "p50"])
        self.assertEqual(rows, [["3", "books", "1.5"], ["12", "toys", ""]])
        self.assertEqual(n, 2)

    def test_single_row_footer(self):
        text = "+---+\n| a |\n+---+\n| 1 |\n+---+\n(1 row)\n"
        self.assertEqual(oracle.parse_pretty(text)[2], 1)

    def test_missing_footer_or_wrong_count_is_rejected(self):
        with self.assertRaises(ValueError):
            oracle.parse_pretty(PRETTY.replace("(2 rows)\n", ""))
        with self.assertRaises(ValueError):
            oracle.parse_pretty(PRETTY.replace("(2 rows)", "(3 rows)"))

    def test_cells_take_the_expected_column_types(self):
        header, rows, _ = oracle.parse_pretty(PRETTY)
        expected = [{"COUNT(*)": 3, "category": "books", "p50": 1.5},
                    {"COUNT(*)": 12, "category": "toys", "p50": None}]
        self.assertIsNone(oracle.check_pretty(PRETTY, expected, ordered=True))
        self.assertEqual(oracle.cells_to_values(header, rows, expected)[1]["p50"], None)


class JsonOutputTest(unittest.TestCase):
    def test_go_style_numbers_and_sorted_keys(self):
        text = '[{"AVG(total_amount)":12,"COUNT(*)":2,"passenger_count":"1"},\n' \
               '{"AVG(total_amount)":7.25,"COUNT(*)":1,"passenger_count":""}]\n'
        expected = [{"passenger_count": "", "COUNT(*)": 1, "AVG(total_amount)": 7.25},
                    {"passenger_count": "1", "COUNT(*)": 2, "AVG(total_amount)": 12.0}]
        self.assertIsNone(oracle.check_json(text, expected))

    def test_not_an_array_of_objects(self):
        self.assertIsNotNone(oracle.check_json('{"a":1}', []))
        self.assertIsNotNone(oracle.check_json("[1,2]", []))


class CompareTest(unittest.TestCase):
    def test_float_tolerance(self):
        self.assertTrue(oracle.values_match(0.1 + 0.2, 0.3))
        self.assertFalse(oracle.values_match(0.3001, 0.3))
        self.assertFalse(oracle.values_match(None, ""))
        self.assertFalse(oracle.values_match("1", 1))

    def test_multiset_ignores_order_unless_ordered(self):
        a = [{"k": "x", "v": 1.0}, {"k": "y", "v": 2.0}]
        b = list(reversed(a))
        self.assertIsNone(oracle.compare_rows(a, b, ordered=False))
        self.assertIsNotNone(oracle.compare_rows(a, b, ordered=True))

    def test_multiset_counts_duplicates(self):
        a = [{"k": "x"}, {"k": "x"}, {"k": "y"}]
        b = [{"k": "x"}, {"k": "y"}, {"k": "y"}]
        self.assertIsNotNone(oracle.compare_rows(a, b, ordered=False))

    def test_a_wrong_value_fails(self):
        expected = [{"COUNT(*)": 3, "category": "books", "p50": 1.5},
                    {"COUNT(*)": 12, "category": "toys", "p50": None}]
        wrong = PRETTY.replace("|   1.5 |", "|   1.6 |")
        self.assertIn("p50", oracle.check_pretty(wrong, expected, ordered=False))

    def test_flatten_follows_dsq_table_model(self):
        rec = {"id": 1, "ok": True, "a.b": 2, "u": {"n": "x", "g": {"lat": 1.5}}, "t": ["p", "q"]}
        self.assertEqual(oracle.flatten_record(rec), {
            "id": 1, "ok": 1, "a\\.b": 2, "u.n": "x", "u.g.lat": 1.5, "t": '["p","q"]'})

    def test_export_expected_fills_missing_keys_with_null(self):
        recs = [{"amount": 20, "status": "open"}, {"amount": 30}, {"amount": 1}]
        self.assertEqual(oracle.export_expected(recs, 10),
                         [{"amount": 20, "status": "open"}, {"amount": 30, "status": None}])


class StatsTest(unittest.TestCase):
    def test_median_and_quartile_spread(self):
        values = [10.0, 11.0, 9.0, 10.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.0]
        self.assertEqual(statistics.median(values), 10.0)
        q1, _, q3 = statistics.quantiles(values, n=4)
        self.assertAlmostEqual(spread.iqr_share(values), (q3 - q1) / 10.0)

    def test_union_of_job_intervals(self):
        self.assertEqual(layers.union_ns([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(layers.union_ns([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(layers.union_ns([], 0, 10), 0)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_queries(self):
        self.assertEqual(oracle.repl_round(7, 0), oracle.repl_round(7, 0))
        self.assertNotEqual(oracle.repl_round(7, 0), oracle.repl_round(8, 0))

    def test_every_round_runs_every_template_once(self):
        for r in range(5):
            names = sorted(t for t, _, _, _ in oracle.repl_round(3, r))
            self.assertEqual(names, sorted(["groupby", "topn", "join", "stdlib",
                                            oracle.KNOWN_FAULT]))

    def test_export_records_are_seeded(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.export_jsonl(os.path.join(d, "a.jsonl"), 5)["records"][:50]
            b = gen.export_jsonl(os.path.join(d, "b.jsonl"), 5)["records"][:50]
            self.assertEqual(a, b)


if __name__ == "__main__":
    unittest.main()
