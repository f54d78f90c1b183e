"""Self-tests for the benchmark's own code:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import shutil
import tempfile
import unicodedata
import unittest
from pathlib import Path

import gen
import run
import stats

HERE = Path(__file__).resolve().parent
WORK = HERE / ".work"


def naive_count(text):
    """Word counts by the engine's tokenizer contract, one character at a
    time: a word is a maximal run of Unicode letters (category L*)."""
    counts, word = {}, []
    for c in text + "\n":
        if unicodedata.category(c).startswith("L"):
            word.append(c)
        elif word:
            w = "".join(word)
            counts[w] = counts.get(w, 0) + 1
            word = []
    return counts


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in (11, 12, 15, 44, 100, 1000, 1234):
            xs = list(range(n))
            value, p, count = stats.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(x > value for x in xs), 10)
            # the next whole percentile up no longer has 10 beyond it
            nxt = sorted(xs)[-(-(p + 1) * n // 100) - 1]
            self.assertLess(sum(x > nxt for x in xs), 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90, 100))
        self.assertEqual(stats.tail(list(range(1, 1001))), (990, 99, 1000))
        self.assertEqual(stats.tail(list(range(1, 16))), (5, 33, 15))

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 5), []), 5)

    def test_nested_children(self):
        # a child inside another child is covered once
        self.assertEqual(stats.self_time((0, 10), [(2, 6), (3, 4)]), 6)

    def test_overlapping_children(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 7)]), 4)
        self.assertEqual(stats.self_time((0, 10), [(3, 7), (1, 4), (8, 9)]), 3)

    def test_children_outside_the_span_are_clipped(self):
        self.assertEqual(stats.self_time((2, 6), [(0, 3), (5, 9)]), 2)
        self.assertEqual(stats.self_time((2, 6), [(7, 9)]), 4)


class Generator(unittest.TestCase):
    def setUp(self):
        WORK.mkdir(exist_ok=True)
        self.root = Path(tempfile.mkdtemp(dir=WORK))

    def tearDown(self):
        shutil.rmtree(self.root)

    def test_same_seed_same_checksum(self):
        for kind, size in (("text", {"tokens": 5000, "vocab": 300}),
                           ("tables", {"sf": 0.0005, "docs": 60})):
            a = gen.generate(self.root / "a", kind, 7, size)
            b = gen.generate(self.root / "b", kind, 7, size)
            c = gen.generate(self.root / "c", kind, 8, size)
            self.assertEqual(a["checksum"], b["checksum"], kind)
            self.assertNotEqual(a["checksum"], c["checksum"], kind)

    def test_cache_reuse_and_tamper(self):
        size = {"tokens": 5000, "vocab": 300}
        a = gen.generate(self.root, "text", 3, size)
        self.assertFalse(a["cached"])
        b = gen.generate(self.root, "text", 3, size)
        self.assertTrue(b["cached"])
        with open(Path(a["dir"]) / "input.txt", "ab") as f:
            f.write(b"x")
        c = gen.generate(self.root, "text", 3, size)
        self.assertFalse(c["cached"])
        self.assertEqual(c["checksum"], a["checksum"])

    def test_counts_equal_naive_recount(self):
        text, counts = gen.make_text(5, 3000, 200)
        self.assertEqual(naive_count(text), counts)
        self.assertEqual(sum(counts.values()), 3000)
        self.assertIn("\r\n", text)
        self.assertIn("\n\n", text)
        self.assertFalse(text.endswith("\n"))
        self.assertTrue(any(ord(c) > 127 for c in text))

    def test_expected_tsv_is_bytewise_sorted(self):
        _, counts = gen.make_text(5, 3000, 200)
        lines = gen.sorted_tsv(counts).split(b"\n")[:-1]
        keys = [ln.split(b"\t")[0] for ln in lines]
        self.assertEqual(keys, sorted(keys))
        self.assertEqual(len(keys), len(counts))

    def test_table_schemas(self):
        t = gen.make_tables(1, {"sf": 0.0005, "docs": 60})
        self.assertEqual(len(t), 10)
        self.assertEqual(str(t["lineitem"].schema.field("l_shipdate").type),
                         "timestamp[us]")
        self.assertEqual(str(t["nation"].schema.field("n_nationkey").type),
                         "int32")
        docs = t["documents"].to_pydict()
        self.assertEqual(docs["doc_id"], list(range(60)))
        self.assertEqual(docs["n_chars"], [len(x) for x in docs["text"]])


class BenchmarkFile(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics and workloads run.py prints."""

    def setUp(self):
        self.spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(run.WORKLOADS))

    def test_per_layer_metrics(self):
        printed = dict(run.METRIC_UNITS, **{"trace.overhead": "ratio",
                                            "operators.memo.build_s": "s"})
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         printed)

    def test_end_to_end_metrics(self):
        rec = {"passes": [{"wall_s": 2.0 + i, "jobs": [{"wall_s": 0.5 + i}] * 6}
                          for i in range(2)],
               "setup": {"jvm_start": 0.0, "inputs_opened": 9.0,
                         "warmup_done": 15.0},
               "peak_rss_kb": 1024}
        metrics = run.end_to_end(rec, 4.0, {})
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         {k: v["unit"] for k, v in metrics.items()})
        self.assertEqual(metrics["pass_s"]["value"], 2.5)
        self.assertEqual(metrics["mb_per_s"]["value"], 1.6)
        self.assertEqual(metrics["setup_s"]["value"], 15.0)


class PassCount(unittest.TestCase):
    """The sample count, and so the tail's rank, follows the arguments
    alone."""

    def test_tail_above_median(self):
        for wl, spec in run.WORKLOADS.items():
            for seconds in (1, 10, 24, 60):
                n = run.timed_passes(wl, seconds) * len(spec["jobs"])
                _, p, _ = stats.tail(list(range(n)))
                self.assertGreater(p, 55, (wl, seconds))

    def test_more_seconds_more_passes(self):
        for wl in run.WORKLOADS:
            self.assertLess(run.timed_passes(wl, 10), run.timed_passes(wl, 120))


if __name__ == "__main__":
    unittest.main()
