"""The generator is a pure function of the seed: byte-identical files."""
import filecmp
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

SMALL = {
    "REVIEW": dict(gen.REVIEW, jobs=2, reviews=120, events=300),
    "DEDUP": dict(gen.DEDUP, batches=3, batch_docs=50),
    "VECTOR": dict(gen.VECTOR, vectors=300, append_batches=2, append_size=10, queries=20),
}


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.patches = [mock.patch.object(gen, k, v) for k, v in SMALL.items()]
        for p in self.patches:
            p.start()
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        for p in self.patches:
            p.stop()
        self.tmp.cleanup()

    def gen(self, cache, workload, seed):
        return gen.generate(workload, seed, os.path.join(self.tmp.name, cache))

    def test_same_seed_is_byte_identical(self):
        for w in gen.GENERATORS:
            a, b = self.gen("a", w, 11), self.gen("b", w, 11)
            self.assertEqual(tree(a), tree(b))
            match, mismatch, errors = filecmp.cmpfiles(a, b, tree(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_differs(self):
        for w in gen.GENERATORS:
            a, b = self.gen("a", w, 11), self.gen("b", w, 12)
            _, mismatch, _ = filecmp.cmpfiles(a, b, tree(a), shallow=False)
            self.assertTrue(mismatch, w)

    def test_cached_per_seed(self):
        a = self.gen("a", "corpus_dedup", 5)
        stamp = os.path.getmtime(os.path.join(a, "inputs.json"))
        self.assertEqual(self.gen("a", "corpus_dedup", 5), a)
        self.assertEqual(os.path.getmtime(os.path.join(a, "inputs.json")), stamp)

    def test_query_ids_distinct_and_never_the_pinned_one(self):
        import json
        d = self.gen("a", "vector_search", 3)
        with open(os.path.join(d, "queries.json")) as f:
            ids = json.load(f)
        self.assertEqual(len(ids), len(set(ids)))
        self.assertNotIn(20, ids)


if __name__ == "__main__":
    unittest.main()
