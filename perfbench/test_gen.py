#!/usr/bin/env python3
"""Tests of the seeded input generator.

  python3 perfbench/test_gen.py

The same seed must give byte-identical files; another seed must give
another corpus with the same planted rates.
"""
import filecmp
import os
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402

SMALL_DEDUP = dict(n_docs=2000)
SMALL_INGEST = dict(n_base=2000, batch_docs=1000, n_batches=3)


def files(d):
    return sorted(os.listdir(d))


class GenTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def dirs(self, *names):
        out = [os.path.join(self.tmp.name, n) for n in names]
        for d in out:
            os.makedirs(d)
        return out

    def assertSameBytes(self, a, b):
        self.assertEqual(files(a), files(b))
        for f in files(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)

    def test_dedup_same_seed_same_bytes(self):
        a, b = self.dirs("a", "b")
        gen.gen_dedup(7, a, **SMALL_DEDUP)
        gen.gen_dedup(7, b, **SMALL_DEDUP)
        self.assertSameBytes(a, b)

    def test_dedup_other_seed_same_planted_rate(self):
        a, b = self.dirs("a", "b")
        gen.gen_dedup(7, a, **SMALL_DEDUP)
        gen.gen_dedup(8, b, **SMALL_DEDUP)
        ta = pq.read_table(f"{a}/documents.parquet").column("text").to_pylist()
        tb = pq.read_table(f"{b}/documents.parquet").column("text").to_pylist()
        self.assertNotEqual(ta, tb)
        for d in (a, b):
            planted = pq.read_table(f"{d}/planted.parquet").to_pylist()
            self.assertEqual(len(planted), SMALL_DEDUP["n_docs"] // 20)
            corpus = check.Corpus([f"{d}/documents.parquet"])
            js = [corpus.j(p["id_a"], p["id_b"]) for p in planted]
            near = sum(j >= check.THRESHOLD for j in js) / len(js)
            self.assertGreater(near, 0.9)

    def test_ingest_same_seed_same_bytes(self):
        a, b = self.dirs("a", "b")
        gen.gen_ingest(7, a, **SMALL_INGEST)
        gen.gen_ingest(7, b, **SMALL_INGEST)
        self.assertSameBytes(a, b)

    def test_ingest_other_seed_same_planted_rates(self):
        a, b = self.dirs("a", "b")
        gen.gen_ingest(7, a, **SMALL_INGEST)
        gen.gen_ingest(8, b, **SMALL_INGEST)
        self.assertFalse(filecmp.cmp(f"{a}/batch_0000.parquet",
                                     f"{b}/batch_0000.parquet", shallow=False))
        n = SMALL_INGEST["batch_docs"] * SMALL_INGEST["n_batches"]
        for d in (a, b):
            kinds = pq.read_table(f"{d}/planted.parquet").column("kind").to_pylist()
            self.assertAlmostEqual(kinds.count("near") / n, 0.10, delta=0.02)
            self.assertAlmostEqual(kinds.count("exact") / n, 0.01, delta=0.006)


if __name__ == "__main__":
    unittest.main()
