"""Tests of the benchmark's own logic: `python3 -m unittest discover -s perfbench`."""
import os
import shutil
import tempfile
import unittest

import analyze
import gen


def op(name, t0, t1, ok=True, error="", seq=0, calls=()):
    return {"name": name, "pass": 1, "seq": seq, "t0": t0, "t1": t1, "ok": ok,
            "error": error, "calls": list(calls), "heap_mb": 1.0, "rows": 0,
            "traced": False, "info": {}}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        value, p, n = analyze.tail(xs)
        self.assertEqual((value, p, n), (90, 90.0, 100))

    def test_more_samples_reach_higher_percentiles(self):
        value, p, _ = analyze.tail(list(range(1, 1001)))
        self.assertEqual((value, p), (990, 99.0))

    def test_order_does_not_matter(self):
        self.assertEqual(analyze.tail([5, 1, 4, 2, 3] * 6), analyze.tail(sorted([5, 1, 4, 2, 3] * 6)))

    def test_too_few_samples_give_the_maximum(self):
        self.assertEqual(analyze.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        # span 0..100; children 10..30 and 20..50 overlap, 60..70 apart
        self.assertEqual(analyze.self_time((0, 100), [(10, 30), (20, 50), (60, 70)]), 50)

    def test_children_outside_the_span_are_clipped(self):
        self.assertEqual(analyze.self_time((10, 20), [(0, 15), (18, 40)]), 3)

    def test_no_children(self):
        self.assertEqual(analyze.self_time((5, 9), []), 4)


class FailureAccountingTest(unittest.TestCase):
    def record(self):
        return {"ops": [op("q_a", 0, 1000, seq=0),
                        op("q_b", 1000, 2000, ok=False, error="java.lang.RuntimeException: boom", seq=1),
                        op("q_c", 2000, 3000, seq=2),
                        op("q_c", 3000, 4000, seq=3)],
                "finals": [{"name": "final_probe", "ok": True, "error": ""}]}

    def test_thrown_and_wrong_results_both_fail(self):
        attempted, failed, reasons = analyze.failures(self.record(), {"q_c": "row count differs"})
        self.assertEqual(attempted, 5)
        self.assertEqual(failed, 3)  # q_b threw, both runs of q_c were wrong
        self.assertEqual(set(reasons), {"q_b", "q_c"})
        self.assertIn("boom", reasons["q_b"])

    def test_failed_final_check_counts(self):
        rec = self.record()
        rec["finals"][0] = {"name": "final_probe", "ok": False, "error": "differs"}
        attempted, failed, reasons = analyze.failures(rec, {})
        self.assertEqual((attempted, failed), (5, 2))
        self.assertEqual(reasons["final_probe"], "differs")

    def test_all_good(self):
        rec = self.record()
        rec["ops"][1]["ok"] = True
        self.assertEqual(analyze.failures(rec, {})[:2], (5, 0))


class GeneratorTest(unittest.TestCase):
    SIZE = {"documents": 200, "embeddings": 100, "customer": 50, "orders": 300,
            "lineitem": 600, "events": 200}

    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def make(self, workload, seed, size):
        out = os.path.join(self.dir, f"{workload}-{seed}-{len(os.listdir(self.dir))}")
        gen.make_inputs(workload, seed, out, size)
        return gen.digest(out)

    def test_same_seed_gives_identical_bytes(self):
        self.assertEqual(self.make("disco_jobs", 7, self.SIZE), self.make("disco_jobs", 7, self.SIZE))

    def test_other_seed_gives_other_inputs(self):
        self.assertNotEqual(self.make("disco_jobs", 7, self.SIZE), self.make("disco_jobs", 8, self.SIZE))

    def test_index_inputs_are_deterministic(self):
        size = {"embeddings": 100, "slices": 5, "batches": 2, "per_batch": 3}
        self.assertEqual(self.make("index_rw", 3, size), self.make("index_rw", 3, size))
        self.assertNotEqual(self.make("index_rw", 3, size), self.make("index_rw", 4, size))

    def test_documents_keep_the_fixture_shape(self):
        d = gen.documents(1, 400).to_pydict()
        self.assertEqual(d["doc_id"], list(range(400)))
        words = {w for t in d["text"] for w in t.split()}
        self.assertEqual(words, set(gen.VOCAB) | {"dup"})
        self.assertEqual(d["n_chars"], [len(t) for t in d["text"]])
        self.assertTrue(any(t.endswith(" dup") for t in d["text"]))
        self.assertLess(len(set(d["text"])), 400)  # planted exact duplicates


if __name__ == "__main__":
    unittest.main()
