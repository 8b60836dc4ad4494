"""Tests of the benchmark's own logic; no JVM needed.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
import feedgen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def guid_of(feed_line):
    """The guid of a well-formed entry, else None."""
    try:
        return json.loads(feed_line[1])["guid"]
    except ValueError:
        return None


class TailPercentileTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(1, 41))  # 40 samples: p75 has 10 above it
        pct, value = stats.tail_percentile(xs)
        self.assertEqual(pct, 75.0)
        self.assertEqual(value, 30)
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_order_of_samples_does_not_matter(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 4, 6, 10, 11, 12, 13]
        self.assertEqual(stats.tail_percentile(xs), stats.tail_percentile(sorted(xs)))
        self.assertEqual(stats.tail_percentile(xs)[1], 3)

    def test_too_few_samples_fall_back_to_the_slowest(self):
        self.assertEqual(stats.tail_percentile([3, 9, 1, 4]), (100.0, 9))
        self.assertEqual(stats.tail_percentile(list(range(11)))[0], 100 / 11)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, layer, start, end, parent=0):
        return {"id": i, "parent": parent, "layer": layer, "name": str(i),
                "start_ns": start, "end_ns": end, "attrs": {}}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, "poll", 0, 100),
                 self.span(2, "table", 10, 50, parent=1),
                 self.span(3, "table", 40, 60, parent=1),
                 self.span(4, "table", 90, 120, parent=1)]  # clipped to 100
        own = stats.self_times(spans)
        self.assertEqual(own[1], 100 - (50 + 10))
        self.assertEqual(own[2], 40)

    def test_parents_resolve_to_innermost_containing_span(self):
        ms = stats.SLACK_NS
        spans = stats.resolve_parents([
            self.span(1, "workload", 0, 1000 * ms),
            self.span(2, "poll", 0, 500 * ms, parent=1),
            self.span(3, "table", 10 * ms, 400 * ms, parent=2),
            self.span(4, "sql", 20 * ms, 300 * ms),
            self.span(5, "spark", 30 * ms, 200 * ms),
            self.span(6, "analyze", 40 * ms, 100 * ms),
            self.span(7, "spark", 600 * ms, 700 * ms)])
        parents = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parents, {1: 0, 2: 1, 3: 2, 4: 3, 5: 4, 6: 5, 7: 1})
        owner = stats.poll_of(spans)
        self.assertEqual(owner[6], 2)
        self.assertIsNone(owner[7])

    def test_nested_sql_executions_nest(self):
        ms = stats.SLACK_NS
        spans = stats.resolve_parents([
            self.span(1, "poll", 0, 100 * ms, parent=9),
            self.span(2, "sql", 10 * ms, 90 * ms),
            self.span(3, "sql", 20 * ms, 50 * ms),
            self.span(4, "sql", 20 * ms, 50 * ms),
            self.span(5, "spark", 30 * ms, 40 * ms)])
        parents = {s["id"]: s["parent"] for s in spans}
        self.assertEqual(parents, {1: 9, 2: 1, 3: 2, 4: 3, 5: 4})

    def test_union_coverage(self):
        self.assertEqual(stats.covered([(0, 10), (5, 15), (20, 30)], 0, 25), 20)
        self.assertEqual(stats.covered([], 0, 10), 0)


class FeedGenTest(unittest.TestCase):
    def generate(self, seed, per_feed):
        d = tempfile.mkdtemp()
        self.addCleanup(shutil.rmtree, d)
        feedgen.write_snapshots(d, seed, 100, 4, per_feed)
        return d

    def tree(self, d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs)

    def test_same_seed_gives_identical_bytes(self):
        for per_feed in (True, False):
            a, b = self.generate(7, per_feed), self.generate(7, per_feed)
            files = self.tree(a)
            self.assertEqual(files, self.tree(b))
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_differs(self):
        a, b = self.generate(7, False), self.generate(8, False)
        self.assertFalse(filecmp.cmp(os.path.join(a, "snap-00001.json"),
                                     os.path.join(b, "snap-00001.json"),
                                     shallow=False))

    def test_overlap_and_bad_lines(self):
        gen = feedgen.FeedGen(3, 100)
        lines0, guids0 = gen.snapshot(0)
        lines1, guids1 = gen.snapshot(1)
        self.assertEqual(len(guids1), 100)
        self.assertEqual(len(set(guids0) & set(guids1)), 25)
        self.assertEqual(len(lines1), 101)  # one malformed or null-guid line
        self.assertEqual(sorted(g for g in map(guid_of, lines1) if g), sorted(guids1))

    def test_dates_use_both_zone_forms_and_day_widths(self):
        gen = feedgen.FeedGen(5, 1000)
        text = "".join(l for s in range(40) for _, l in gen.snapshot(s)[0])
        self.assertIn(" GMT\"", text)
        self.assertIn(" +0000\"", text)
        self.assertRegex(text, r'"published": "\w{3}, 0\d ')
        self.assertRegex(text, r'"published": "\w{3}, \d ')
        self.assertRegex(text, r'"published": "\w{3}, \d\d ')

    def test_titles_carry_capitalised_name_runs(self):
        gen = feedgen.FeedGen(1, 100)
        lines, guids = gen.snapshot(0)
        entries = [json.loads(l) for _, l in lines if guid_of((0, l))]
        self.assertEqual(len(entries), len(guids))
        self.assertTrue(all(any(n in e["title"] for n in feedgen.FIRST)
                            for e in entries))


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_what_a_run_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        raw = {"setup_s": [1.0, 2.0, 3.0], "dashboard_ms": [5.0],
               "peak_rss_mb": 100.0,
               "polls": [{"ms": 10.0 + i, "rows": 75, "input_bytes": 100,
                          "store_bytes": 250} for i in range(8)]}
        e2e, _ = stats.end_to_end(raw, 0.5)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(e2e))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         {k: u for k, (_, u) in e2e.items()})
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         stats.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
