"""Tests of the seeded input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import json
import os
import shutil
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

import gen


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def generate(self, workload, seed):
        out = tempfile.mkdtemp(prefix="perfbench_gen_")
        self.addCleanup(shutil.rmtree, out)
        return out, gen.generate(workload, seed, out)

    def test_same_seed_same_inputs(self):
        for w in gen.WORKLOADS:
            a, _ = self.generate(w, 5)
            b, _ = self.generate(w, 5)
            c, _ = self.generate(w, 6)
            self.assertEqual(digest(a), digest(b), w)
            self.assertNotEqual(digest(a), digest(c), w)

    def test_every_workflow_batch_does_the_same_work(self):
        out, p = self.generate("workflow_batch", 3)
        batch = p["params"]["batch"]
        docs = pq.read_table(os.path.join(out, "documents")).to_pandas()
        ledger = pq.read_table(os.path.join(out, "ledger")).to_pandas()
        latest = ledger.sort_values("operation_order").groupby(
            "document_id").tail(1)
        self.assertEqual(set(latest.title), {"document_scraped"})
        self.assertEqual(len(ledger), len(docs) * (
            5 * p["params"]["history"] + 2))
        order = latest.sort_values("operation_order", ascending=False)
        by_id = docs.set_index("id")
        words, mixes = set(), set()
        self.assertEqual(len(order), batch * p["params"]["batches"])
        for b in range(p["params"]["batches"]):
            ids = order.document_id.values[b * batch:(b + 1) * batch]
            x = by_id.loc[ids]
            words.add(int(x.full_content.str.split().str.len().sum()))
            mixes.add(tuple(sorted(x.lang.value_counts().items())))
            self.assertLessEqual(
                int(x.full_content.str.encode("utf-8").str.len().sum()),
                p["truth"]["byte_cap"])
        self.assertEqual(len(words), 1)
        self.assertEqual(len(mixes), 1)
        lengths = docs.full_content.str.split().str.len()
        self.assertGreater(lengths.std() / lengths.mean(), 0.3)
        self.assertTrue(set(docs.lang) - set(gen.ROUTABLE_LANGS))

    def test_curation_ground_truth(self):
        out, p = self.generate("corpus_curation", 4)
        prm, truth = p["params"], p["truth"]
        corpus = pq.read_table(os.path.join(out, "corpus")).to_pandas()
        self.assertEqual(len(corpus), truth["input_docs"])
        self.assertEqual(len(truth["survivors"]), prm["base_docs"])
        text = corpus.set_index("id").text

        def shingles(t):
            w = t.lower().split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        def jaccard(a, b):
            return len(a & b) / len(a | b)

        survivors = [shingles(text[i]) for i in truth["survivors"]]
        # unrelated documents sit far below the near-dup threshold
        unrelated = [jaccard(survivors[i], survivors[i + 1])
                     for i in range(len(survivors) - 1)]
        self.assertLess(max(unrelated), prm["near_dup_threshold"] / 4)
        # every non-survivor that passes the word-count gate is a copy of
        # a survivor, well above the threshold
        kept = set(truth["survivors"])
        for i, t in text.items():
            if i in kept or len(t.split()) < 50:
                continue
            best = max(jaccard(shingles(t), s) for s in survivors)
            self.assertGreater(best, prm["near_dup_threshold"] + 0.05, i)
        short = sum(len(t.split()) < 50 for t in text)
        self.assertEqual(short, truth["short_docs"])
        # stopwords: every document has the Gopher minimum of two
        for t in text:
            words = set(t.lower().split())
            self.assertGreaterEqual(len(words & set(gen.STOPWORDS)), 2)


if __name__ == "__main__":
    unittest.main()
