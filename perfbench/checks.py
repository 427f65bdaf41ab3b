"""Output checks. Each takes the engine's output as plain Python values (or
the sink directory) and the generator's independent expectation, and
returns a list of problems; an empty list means the output is correct."""

from __future__ import annotations

import os

from gen import shingles

NEAR_DUP_THRESHOLD = 0.5


def read_letter_partitioned(out_dir: str) -> dict[str, list[str]]:
    """Letter -> records, read back from ``out_dir/letter=x/part-*`` files."""
    out: dict[str, list[str]] = {}
    for entry in sorted(os.listdir(out_dir)):
        if not entry.startswith("letter="):
            continue
        recs: list[str] = []
        for part in sorted(os.listdir(os.path.join(out_dir, entry))):
            if part.startswith(("part-", "part_")):
                with open(os.path.join(out_dir, entry, part), encoding="utf-8") as fh:
                    recs.extend(fh.read().splitlines())
        out[entry[len("letter=") :]] = recs
    return out


def check_index(actual: dict[str, list[str]], expected: dict[str, list[str]]) -> list[str]:
    """Same letters, and per letter the same ``word:[ids]`` records in the
    same (df desc, word asc) order."""
    problems = []
    if sorted(actual) != sorted(expected):
        problems.append(f"letters differ: {sorted(set(actual) ^ set(expected))}")
    for letter in sorted(set(actual) & set(expected)):
        got, want = actual[letter], expected[letter]
        if got != want:
            first = next(
                (i for i, (g, w) in enumerate(zip(got, want)) if g != w), min(len(got), len(want))
            )
            problems.append(
                f"letter {letter}: {len(got)} records vs {len(want)}, first difference at {first}"
            )
    return problems


def check_near_dup(
    pairs: list[tuple[int, int, float]],
    components: list[tuple[int, int]],
    texts: list[str],
    clusters: list[frozenset[int]],
    shingle_cache: dict[int, set] | None = None,
) -> list[str]:
    """Every planted cluster is exactly one component and no other
    component exists; every emitted pair's Jaccard, recomputed from the
    text, meets the threshold and matches the reported value."""
    problems = []
    cache = shingle_cache if shingle_cache is not None else {}

    def sh(d: int) -> set:
        if d not in cache:
            cache[d] = shingles(texts[d])
        return cache[d]

    for d1, d2, jac in pairs:
        a, b = sh(d1), sh(d2)
        j = len(a & b) / len(a | b)
        if not d1 < d2 or j < NEAR_DUP_THRESHOLD or abs(j - jac) > 1e-9:
            problems.append(f"pair ({d1}, {d2}) reported {jac}, recomputed {j}")
            break
    comps: dict[int, set[int]] = {}
    for doc, comp in components:
        comps.setdefault(comp, set()).add(doc)
    got = {frozenset(c) for c in comps.values()}
    want = set(clusters)
    if got != want:
        problems.append(
            f"components: {len(want - got)} planted clusters not returned as one "
            f"component, {len(got - want)} unexpected components"
        )
    return problems


def check_topk(
    rows: list[tuple[int, int, int, float]], expected: dict[int, list[tuple[int, float]]]
) -> list[str]:
    """Rows are (q_id, neighbor_id, rank, cosine). Each expected query has
    ranks 1..k in order, the same neighbors as numpy and cosines within
    1e-9; no other query appears."""
    by_q: dict[int, list[tuple[int, int, float]]] = {}
    for q, n, rank, cos in rows:
        by_q.setdefault(q, []).append((n, rank, cos))
    problems = []
    if sorted(by_q) != sorted(expected):
        problems.append(f"topk: queries {sorted(by_q)}, want {sorted(expected)}")
    for q in sorted(set(by_q) & set(expected)):
        got, want = sorted(by_q[q], key=lambda r: r[1]), expected[q]
        ok = len(got) == len(want) and all(
            g[1] == i + 1 and g[0] == w[0] and abs(g[2] - w[1]) <= 1e-9
            for i, (g, w) in enumerate(zip(got, want))
        )
        if not ok:
            problems.append(f"topk {q}: got {[g[0] for g in got]}, want {[w[0] for w in want]}")
    return problems
