"""Self-tests of the benchmark's own arithmetic and inputs.

    python3 -m unittest discover -s perfbench/tests

The digest's insensitivity to row order is tested on the JVM side:
(cd perfbench && sbt test).
"""
import filecmp
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import compare  # noqa: E402
import corpus  # noqa: E402
import report  # noqa: E402


class CorpusTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            corpus.generate(f"{d}/a", 7, 1)
            corpus.generate(f"{d}/b", 7, 1)
            corpus.generate(f"{d}/c", 8, 1)
            names = sorted(p.name for p in Path(f"{d}/a").iterdir())
            self.assertEqual(len(names), corpus.FILES)
            _, mismatch, errors = filecmp.cmpfiles(f"{d}/a", f"{d}/b", names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertTrue(filecmp.cmp(f"{d}/a.expected.tsv", f"{d}/b.expected.tsv", shallow=False))
            self.assertFalse(filecmp.cmp(f"{d}/a.expected.tsv", f"{d}/c.expected.tsv", shallow=False))

    def test_expected_table_recounts_the_files(self):
        with tempfile.TemporaryDirectory() as d:
            counts = corpus.generate(f"{d}/a", 3, 1)
            recount = {}
            tokens = 0
            for p in Path(f"{d}/a").iterdir():
                for t in p.read_text().split():
                    tokens += 1
                    w = corpus.clean_word(t)
                    if w:
                        recount[w] = recount.get(w, 0) + 1
            self.assertEqual(recount, counts)
            rows = [l.split("\t") for l in Path(f"{d}/a.expected.tsv").read_text().splitlines()]
            self.assertEqual({w: int(n) for w, n in rows}, counts)
            capitalized = sum(1 for p in Path(f"{d}/a").iterdir()
                              for t in p.read_text().split() if t[:1].isupper())
            self.assertGreater(capitalized / tokens, 0.05)

    def test_clean_word_is_ispunct_strip_then_lower(self):
        self.assertEqual(corpus.clean_word("Don't"), "dont")
        self.assertEqual(corpus.clean_word("co-op"), "coop")
        self.assertEqual(corpus.clean_word("(A)"), "a")
        self.assertEqual(corpus.clean_word("1,000"), "1000")
        self.assertEqual(corpus.clean_word("--"), "")


class TailTest(unittest.TestCase):
    def test_ten_beyond(self):
        value, pct, n, beyond = report.tail(list(range(100, 0, -1)))
        self.assertEqual((value, n, beyond), (90, 100, 10))
        self.assertAlmostEqual(pct, 90.0)

    def test_smallest_sample_with_a_tail(self):
        self.assertEqual(report.tail(list(range(11)))[0], 0)
        self.assertEqual(report.tail(list(range(11)))[3], 10)

    def test_too_few_samples_fall_back_to_the_maximum(self):
        self.assertEqual(report.tail([3, 1, 2]), (3, 100.0, 3, 0))


class SelfTimeTest(unittest.TestCase):
    def span(self, start, end):
        return {"start": start, "end": end}

    def test_overlapping_children_count_once(self):
        parent = self.span(0, 10)
        kids = [self.span(1, 3), self.span(2, 5), self.span(7, 8)]
        self.assertEqual(report.self_time(parent, kids), 5)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(report.self_time(self.span(0, 10), [self.span(-5, 2), self.span(9, 20)]), 7)

    def test_leaf(self):
        self.assertEqual(report.self_time(self.span(2, 6), []), 4)


class BatchP50Test(unittest.TestCase):
    def raw(self, durations_per_pass):
        """A stream run: pass 0 cold, pass 1 warm-up, then warm passes,
        each 10 ms long and delivering the given micro-batches."""
        spans, batches, queries = [], [], []
        for i, ds in enumerate(durations_per_pass):
            spans.append({"name": "pass", "start": 10.0 * i, "end": 10.0 * i + 9})
            queries.append({"pass": i, "traced": False, "name": "q", "times": {"construct": 9.0}})
            batches += [{"start": 10.0 * i + 1, "durations": {"triggerExecution": d}} for d in ds]
        return {"workload": "stream_ingest", "trace": False, "setup_ms": 1.0, "input_bytes": 1,
                "heap_bytes": 1, "queries": queries, "spans": spans, "batches": batches}

    def test_median_of_pass_means_ignores_cold_and_warm_up(self):
        raw = self.raw([[5000, 9000], [3000], [400, 800], [500, 800], [450, 850]])
        m, _ = report.end_to_end(raw)
        self.assertEqual(m["batch_p50_ms"]["value"], 650)

    def test_two_batch_sizes_do_not_flip_the_median(self):
        # a median over single batches would read 450 or 800 depending
        # on which stream's batches a run happened to finish more of
        small_first = self.raw([[1], [1], [450, 800], [450, 800], [450]])
        m, _ = report.end_to_end(small_first)
        self.assertEqual(m["batch_p50_ms"]["value"], 625)


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        base = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
        self.assertEqual(compare.verdict(base, [x * 1.3 for x in base], "lower", 0.1), "worse")
        self.assertEqual(compare.verdict(base, [x * 0.8 for x in base], "lower", 0.1), "better")
        self.assertEqual(compare.verdict(base, base, "lower", 0.1), "same")
        self.assertEqual(compare.verdict(base, [x * 0.8 for x in base], "higher", 0.1), "worse")

    def test_wide_base_spread_is_unresolved_unless_every_run_wins(self):
        base = [8.0, 9.0, 10.0, 11.0, 12.0, 13.0]
        self.assertEqual(compare.verdict(base, [9.0, 10.0, 11.0, 12.0], "lower", 0.1), "unresolved")
        self.assertEqual(compare.verdict(base, [3.0, 3.5, 4.0], "lower", 0.1), "better")


if __name__ == "__main__":
    unittest.main()
