"""Seeded input generators and the independent expected answers.

Every input the engine sees is written here from ``numpy.random.Generator``
(PCG64) seeded by ``--seed``: the same seed gives byte-identical files, a
different seed gives different ones (``selftest.py`` checks both). Expected
answers are computed in plain Python/numpy from the same generated data,
never through Spark.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus sizes, fixed so every run of a workload does the same amount of work.
INDEX_DOCS = 120
NEAR_DUP_DOCS = 1000
# near_dup embeddings: one DIM-d vector per document, and top-K neighbors
# for each of QUERIES seeded query documents
DIM = 64
QUERIES = 8
TOP_K = 10

_NON_ALPHA = re.compile("[^A-Za-z]")
_WS = re.compile(r"\s+")


def normalize(token: str) -> str:
    """The engine's word normalization (keep [A-Za-z], lowercase), in Python."""
    return _NON_ALPHA.sub("", token).lower()


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase pseudo-words of 2-9 letters."""
    words: list[str] = []
    seen: set[str] = set()
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    while len(words) < size:
        n = size - len(words)
        lens = rng.integers(2, 10, size=n)
        chars = letters[rng.integers(0, 26, size=int(lens.sum()))]
        pos = 0
        for ln in lens:
            w = "".join(chars[pos : pos + ln])
            pos += ln
            if w not in seen:
                seen.add(w)
                words.append(w)
    return words


def _zipf_ids(rng: np.random.Generator, vocab: int, n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** s
    return rng.choice(vocab, size=n, p=p / p.sum())


# surface forms of a word: bare (most), capitalized, trailing punctuation and
# a digit prefix all normalize back to the word; a pure number normalizes to
# nothing and is dropped
_FORM_WEIGHTS = np.array([88, 5, 1, 1, 1, 1, 1, 1, 1], dtype=np.float64)


def _forms(w: str, i: int) -> list[str]:
    return [w, w.capitalize(), w + ",", w + ".", w + ";", w + "!", w + "?", f"{i % 10}{w}", str(i)]


@dataclass
class Corpus:
    """Surface tokens per document plus each token's normalized word as an
    index into ``names`` (-1 where it normalizes to nothing)."""

    docs: list[list[str]]
    names: list[str]
    nid: np.ndarray
    lens: np.ndarray

    def postings(self, first_id: int) -> dict[str, list[int]]:
        """word -> ascending ids of the documents containing it."""
        doc = np.repeat(np.arange(first_id, first_id + len(self.lens)), self.lens)
        keep = self.nid >= 0
        pairs = np.unique(self.nid[keep] * (len(self.lens) + first_id + 1) + doc[keep])
        w, d = np.divmod(pairs, len(self.lens) + first_id + 1)
        bounds = np.flatnonzero(np.diff(w)) + 1
        return {
            self.names[int(gw[0])]: gd.tolist()
            for gw, gd in zip(np.split(w, bounds), np.split(d, bounds))
        }


def _zipf_corpus(rng, n_docs, vocab_size, s, min_len, max_len) -> Corpus:
    """Zipf-distributed corpus. Normalization runs once per surface form
    through the Python ``normalize``, never through the engine."""
    words = _vocabulary(rng, vocab_size)
    forms = np.array([_forms(w, i) for i, w in enumerate(words)], dtype=object)
    names: dict[str, int] = {}
    norm_id = np.array(
        [[names.setdefault(n, len(names)) if (n := normalize(f)) else -1 for f in row] for row in forms]
    )
    lens = rng.integers(min_len, max_len + 1, size=n_docs)
    total = int(lens.sum())
    ids = _zipf_ids(rng, vocab_size, total, s)
    kinds = rng.choice(len(_FORM_WEIGHTS), size=total, p=_FORM_WEIGHTS / _FORM_WEIGHTS.sum())
    toks = forms[ids, kinds].tolist()
    cuts = np.cumsum(lens).tolist()
    docs = [toks[a:b] for a, b in zip([0] + cuts[:-1], cuts)]
    return Corpus(docs, list(names), norm_id[ids, kinds], lens)


def _write_parquet(table: pa.Table, path: str) -> None:
    # 16 row groups so the scan splits across every task slot
    row_group = max(1, -(-table.num_rows // 16))
    pq.write_table(table, path, row_group_size=row_group, compression="snappy")


# --- index_build --------------------------------------------------------------


@dataclass
class IndexBuildInput:
    manifest: str
    n_docs: int
    expected: dict[str, list[str]]  # letter -> records in sink order


def index_records(postings: dict[str, list[int]]) -> dict[str, list[str]]:
    """Letter -> ``word:[i1 i2 ...]`` records, df desc then word asc."""
    by_letter: dict[str, list[tuple[int, str, str]]] = {}
    for w, ids in postings.items():
        rec = f"{w}:[{' '.join(map(str, ids))}]"
        by_letter.setdefault(w[0], []).append((-len(ids), w, rec))
    return {k: [r for _, _, r in sorted(v)] for k, v in by_letter.items()}


def make_index_build(root: str, seed: int, n_docs: int = INDEX_DOCS) -> IndexBuildInput:
    """One text file per document (10-20 tokens a line) plus a manifest in
    the reference format: line 1 the count, then one file name a line;
    doc ids are 1-based in manifest order."""
    rng = np.random.Generator(np.random.PCG64(seed))
    corpus = _zipf_corpus(rng, n_docs, 30000, 1.05, 600, 3400)
    ddir = os.path.join(root, "docs")
    os.makedirs(ddir, exist_ok=True)
    names = []
    for i, toks in enumerate(corpus.docs):
        name = f"d{i:06d}.txt"
        breaks = rng.integers(10, 21, size=len(toks) // 10 + 1)
        lines, pos = [], 0
        for b in breaks.tolist():
            if pos >= len(toks):
                break
            lines.append(" ".join(toks[pos : pos + b]))
            pos += b
        with open(os.path.join(ddir, name), "w", encoding="ascii") as fh:
            fh.write("\n".join(lines) + "\n")
        names.append(name)
    manifest = os.path.join(root, "manifest.txt")
    with open(manifest, "w", encoding="ascii") as fh:
        fh.write(f"{len(names)}\n")
        fh.write("".join(f"docs/{n}\n" for n in names))
    return IndexBuildInput(manifest, n_docs, index_records(corpus.postings(1)))


# --- near_dup -------------------------------------------------------------------


@dataclass
class NearDupInput:
    path: str
    n_docs: int
    texts: list[str]
    clusters: list[frozenset[int]]
    vecs_path: str
    # query doc id -> its top-k (neighbor id, cosine), self excluded
    topk: dict[int, list[tuple[int, float]]]


def shingles(text: str, k: int = 3) -> set[tuple[str, ...]]:
    """k-word shingles of the lowercased, whitespace-split text."""
    toks = _WS.split(text.strip().lower())
    return {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def make_near_dup(root: str, seed: int, n_docs: int = NEAR_DUP_DOCS) -> NearDupInput:
    """Zipf-tail corpus with planted near-duplicate clusters, and one
    embedding per document.

    Each token is 35% from a 2k-word Zipf head and 65% from a tail
    vocabulary of 10 x n_docs words, so unplanted documents share almost no
    3-shingles. About 5% of documents sit in clusters of 2-4: one base
    document plus copies that each replace one interior token. A copy then
    differs from its base in at most 6 shingles, so with 8 LSH bands at
    least two bands are identical and the pair is always a candidate, and
    its 3-shingle Jaccard is at least 0.9 (documents have 80-199 tokens).

    Embeddings are standard normal; a planted copy's embedding is its
    base's plus 5% noise, so a cluster's members are each other's nearest
    neighbors. Half the seeded query documents are planted ones. The
    expected top-k of each is exact numpy cosine, ranked by (cosine desc,
    id asc), the query itself excluded.
    """
    rng = np.random.Generator(np.random.PCG64(seed))
    lens = rng.integers(80, 200, size=n_docs)
    total = int(lens.sum())
    head = rng.random(total) < 0.35
    head_ids = _zipf_ids(rng, 2000, total, 1.0)
    tail_ids = rng.integers(0, 10 * n_docs, size=total)
    toks = [
        f"h{h}" if is_head else f"w{t}"
        for is_head, h, t in zip(head.tolist(), head_ids.tolist(), tail_ids.tolist())
    ]
    docs, pos = [], 0
    for ln in lens.tolist():
        docs.append(toks[pos : pos + ln])
        pos += ln

    perm = rng.permutation(n_docs)
    planted: list[list[int]] = []  # base first, then its copies
    used = 0
    budget = n_docs // 20
    fresh = 10 * n_docs  # tail ids beyond the sampled range are unused
    while used < budget:
        size = int(rng.integers(2, 5))
        members = perm[used : used + size].tolist()
        used += size
        base = docs[members[0]]
        for m in members[1:]:
            copy = list(base)
            at = int(rng.integers(1, len(copy) - 1))
            copy[at] = f"w{fresh}"
            fresh += 1
            docs[m] = copy
        planted.append(members)
    clusters = [frozenset(members) for members in planted]
    texts = [" ".join(d) for d in docs]
    vecs = rng.standard_normal((n_docs, DIM))
    for base, *copies in planted:
        for m in copies:
            vecs[m] = vecs[base] + 0.05 * rng.standard_normal(DIM)
    path, vecs_path = os.path.join(root, "docs.parquet"), os.path.join(root, "vecs.parquet")
    _write_parquet(pa.table({"doc_id": pa.array(range(n_docs), pa.int64()), "text": texts}), path)
    _write_parquet(
        pa.table(
            {
                "vec_id": pa.array(range(n_docs), pa.int64()),
                "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64())),
            }
        ),
        vecs_path,
    )
    unit = vecs / np.sqrt((vecs * vecs).sum(axis=1))[:, None]
    topk = {}
    # half the queries are planted documents, whose top neighbors are their
    # cluster's other members
    in_cluster = np.zeros(n_docs, dtype=bool)
    in_cluster[[m for members in planted for m in members]] = True
    queries = np.concatenate(
        [
            rng.choice(np.flatnonzero(in_cluster), size=QUERIES // 2, replace=False),
            rng.choice(np.flatnonzero(~in_cluster), size=QUERIES - QUERIES // 2, replace=False),
        ]
    )
    for q in sorted(queries.tolist()):
        cos = unit @ unit[q]
        cos[q] = -np.inf
        top = np.lexsort((np.arange(n_docs), -cos))[:TOP_K]
        topk[q] = [(int(j), float(cos[j])) for j in top]
    return NearDupInput(path, n_docs, texts, clusters, vecs_path, topk)
