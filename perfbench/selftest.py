"""Self-test of the benchmark's own parts; needs no Spark.

    python3 perfbench/selftest.py

- the generators: the same seed gives byte-identical inputs, another seed
  different ones, and the index expectation equals a plain re-tokenization
  of the written files;
- the output checks: each accepts the expected output and rejects a copy
  with one result corrupted.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402

SMALL = {
    "index_build": lambda d, s: gen.make_index_build(d, s, n_docs=20),
    "near_dup": lambda d, s: gen.make_near_dup(d, s, n_docs=400),
}


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        for name, make in SMALL.items():
            with self.subTest(workload=name), tempfile.TemporaryDirectory() as tmp:
                roots = [os.path.join(tmp, r) for r in ("a", "b", "c")]
                for root, seed in zip(roots, (7, 7, 8)):
                    os.makedirs(root)
                    make(root, seed)
                a, b, c = (_files(r) for r in roots)
                self.assertTrue(a)
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)

    def test_index_expectation_matches_the_files(self):
        with tempfile.TemporaryDirectory() as tmp:
            inp = gen.make_index_build(tmp, 3, n_docs=20)
            with open(inp.manifest, encoding="ascii") as fh:
                names = fh.read().split()[1:]
            post: dict[str, list[int]] = {}
            for doc_id, name in enumerate(names, start=1):
                with open(os.path.join(tmp, name), encoding="ascii") as fh:
                    words = {gen.normalize(t) for line in fh for t in re.split(r"\s+", line)}
                for w in sorted(words - {""}):
                    post.setdefault(w, []).append(doc_id)
            self.assertEqual(gen.index_records(post), inp.expected)


class CheckTest(unittest.TestCase):
    def test_index_check(self):
        with tempfile.TemporaryDirectory() as tmp:
            inp = gen.make_index_build(os.path.join(tmp, "in"), 4, n_docs=20)
            out = os.path.join(tmp, "out")
            for letter, recs in inp.expected.items():
                os.makedirs(os.path.join(out, f"letter={letter}"))
                with open(os.path.join(out, f"letter={letter}", "part-00000.txt"), "w") as fh:
                    fh.write("\n".join(recs) + "\n")
            self.assertEqual(checks.check_index(checks.read_letter_partitioned(out), inp.expected), [])

            actual = checks.read_letter_partitioned(out)
            letter = max(actual, key=lambda k: len(actual[k]))
            word, ids = actual[letter][0].rstrip("]").split(":[")
            actual[letter][0] = f"{word}:[{' '.join(ids.split()[1:])}]"  # drop a doc id
            self.assertNotEqual(checks.check_index(actual, inp.expected), [])

            actual = checks.read_letter_partitioned(out)
            actual[letter][0], actual[letter][1] = actual[letter][1], actual[letter][0]
            self.assertNotEqual(checks.check_index(actual, inp.expected), [])

    def test_near_dup_check(self):
        with tempfile.TemporaryDirectory() as tmp:
            inp = gen.make_near_dup(tmp, 5, n_docs=400)
        pairs, comps = [], []
        for cluster in inp.clusters:
            base = min(cluster)
            for m in sorted(cluster):
                comps.append((m, base))
                if m != base:
                    a, b = gen.shingles(inp.texts[base]), gen.shingles(inp.texts[m])
                    pairs.append((base, m, len(a & b) / len(a | b)))
        self.assertEqual(checks.check_near_dup(pairs, comps, inp.texts, inp.clusters), [])

        split = list(comps)
        split[-1] = (split[-1][0], split[-1][0])  # one member leaves its cluster
        self.assertNotEqual(checks.check_near_dup(pairs, split, inp.texts, inp.clusters), [])

        wrong = list(pairs)
        d1, d2, j = wrong[0]
        wrong[0] = (d1, d2, j - 0.01)
        self.assertNotEqual(checks.check_near_dup(wrong, comps, inp.texts, inp.clusters), [])

        # a pair below the threshold: two documents from different clusters
        far = [(min(inp.clusters[0]), min(inp.clusters[1]), 0.0)]
        self.assertNotEqual(checks.check_near_dup(pairs + far, comps, inp.texts, inp.clusters), [])

    def test_topk_check(self):
        with tempfile.TemporaryDirectory() as tmp:
            inp = gen.make_near_dup(tmp, 6, n_docs=400)
        self.assertEqual(len(inp.topk), gen.QUERIES)
        # a planted query's nearest neighbors are its cluster's other members
        for cluster in inp.clusters:
            for q in sorted(cluster & inp.topk.keys()):
                near = {n for n, _ in inp.topk[q][: len(cluster) - 1]}
                self.assertEqual(near, cluster - {q})
        rows = [(q, n, r + 1, c) for q, want in inp.topk.items() for r, (n, c) in enumerate(want)]
        self.assertEqual(checks.check_topk(rows, inp.topk), [])

        swapped = list(rows)
        (q, n0, _, c0), (_, n1, _, c1) = swapped[0], swapped[1]
        swapped[0], swapped[1] = (q, n1, 1, c1), (q, n0, 2, c0)
        self.assertNotEqual(checks.check_topk(swapped, inp.topk), [])

        off = list(rows)
        q, n, r, c = off[-1]
        off[-1] = (q, n, r, c + 1e-6)
        self.assertNotEqual(checks.check_topk(off, inp.topk), [])

        self.assertNotEqual(checks.check_topk(rows[gen.TOP_K :], inp.topk), [])  # a query missing


if __name__ == "__main__":
    unittest.main()
