"""The workloads. Each drives the engine only through public functions
of its modules, times one operation at a time, and checks that operation's
output after its timer stops.

``op(i, traced)`` runs operation ``i`` inside a root span and returns an
``OpResult``. With ``traced=True`` it also opens one span per layer call and
materializes that layer's output at the span boundary, so Spark's lazy work
lands in the span of the layer that caused it.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import checks
import gen


@dataclass
class OpResult:
    kind: str
    wall: float  # seconds, input -> complete result
    docs: int  # input documents (or vectors) the operation read
    root: object  # the operation's root Span
    problems: list[str] = field(default_factory=list)


class Workload:
    name = ""
    warm_ops = 2  # untimed operations before the measured window
    warm_cap_s = 40.0  # ... unless they take longer than this together
    # measured operations a run needs, even past its deadline: operation
    # times vary by about a tenth from one to the next
    min_ops = 4

    def __init__(self, work: str):
        self.work = work

    def load(self, spark) -> None:
        """Workload set-up the user pays once per session (timed in setup_s)."""
        self.spark = spark

    def warm_up(self, tracer) -> list[float]:
        """Untimed operations on the full input: the first pays class
        loading and code generation, the rest let the JIT compile the hot
        paths, which takes several operations."""
        walls: list[float] = []
        while len(walls) < self.warm_ops and sum(walls) < self.warm_cap_s:
            res = self.run_op(tracer, -1 - len(walls), False)
            if res.problems:
                print(f"perfbench: warm-up {res.kind} failed: {res.problems}", file=sys.stderr)
            walls.append(res.wall)
            self.between_ops()
        return walls

    def run_op(self, tracer, i: int, traced: bool) -> OpResult:
        """``op`` with failures turned into a failed result."""
        with tracer.span(self.name, root=True) as root:
            try:
                res = self.op(tracer, i, traced)
            except Exception:
                traceback.print_exc()
                res = OpResult(self.name, 0.0, 0, None, ["raised"])
        res.root = root
        return res

    def between_ops(self) -> None:
        """Hygiene outside the timed window: drop every cache the last
        operation left and let the JVM collect, so one operation's garbage
        does not land in the next one's time."""
        from mapreduce_paradigm_spark.operators import dedup

        dedup.release_caches()
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()


class IndexBuild(Workload):
    """manifest + one text file per document -> inverted index -> per-letter
    sorted text output (the paper's pipeline)."""

    name = "index_build"
    min_ops = 6

    def __init__(self, work: str, seed: int):
        super().__init__(work)
        self.inp = gen.make_index_build(os.path.join(work, "input"), seed)

    def op(self, tracer, i, traced):
        from mapreduce_paradigm_spark.functions import doc_words
        from mapreduce_paradigm_spark.operators.index import inverted_index
        from mapreduce_paradigm_spark.sinks import write_letter_partitioned
        from mapreduce_paradigm_spark.sources.text import read_documents_from_manifest

        out = os.path.join(self.work, f"out{i}")
        t0 = time.perf_counter()
        if traced:
            with tracer.span("sources.text") as sp:
                docs = read_documents_from_manifest(self.spark, self.inp.manifest).persist()
                sp.counts["rows_out"] = docs.count()
            with tracer.span("functions") as sp:
                words = doc_words(docs).persist()
                sp.counts["rows_out"] = words.count()
            # the index of the (doc_id, word) relation equals the index of
            # the documents: re-splitting a single word yields the word
            with tracer.span("operators.index") as sp:
                idx = inverted_index(words, text_col="word").persist()
                sp.counts["rows_out"] = idx.count()
            with tracer.span("sinks") as sp:
                write_letter_partitioned(idx, out)
        else:
            write_letter_partitioned(
                inverted_index(read_documents_from_manifest(self.spark, self.inp.manifest)), out
            )
        wall = time.perf_counter() - t0
        if traced:
            files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs if f.startswith("part-")]
            sp.counts["files"] = len(files)
            sp.counts["output_bytes"] = sum(os.path.getsize(f) for f in files)
        problems = checks.check_index(checks.read_letter_partitioned(out), self.inp.expected)
        shutil.rmtree(out, ignore_errors=True)
        return OpResult(self.name, wall, self.inp.n_docs, None, problems)


class NearDup(Workload):
    """parquet docs with planted near-duplicate clusters -> MinHash-LSH
    pairs -> connected components, then top-k cosine neighbors of a few
    documents over their embeddings."""

    name = "near_dup"

    def __init__(self, work: str, seed: int):
        super().__init__(work)
        self.inp = gen.make_near_dup(os.path.join(work, "input"), seed)
        self.shingle_cache: dict[int, set] = {}

    def op(self, tracer, i, traced):
        from pyspark.sql import functions as F

        from mapreduce_paradigm_spark.operators.components import connected_components_star
        from mapreduce_paradigm_spark.operators.dedup import minhash_lsh_pairs
        from mapreduce_paradigm_spark.operators.similarity import topk_cosine

        t0 = time.perf_counter()
        docs = self.spark.read.parquet(self.inp.path)
        with tracer.span("operators.dedup") as sp:
            # the components and the check both read the pairs
            pairs = minhash_lsh_pairs(docs).persist()
            if sp:
                sp.counts["verified_pairs"] = pairs.count()
        with tracer.span("operators.components"):
            comp_rows = [(r["doc_id"], r["component"]) for r in connected_components_star(pairs).collect()]
        with tracer.span("operators.similarity"):
            vecs = self.spark.read.parquet(self.inp.vecs_path)
            queries = vecs.where(F.col("vec_id").isin(list(self.inp.topk)))
            nn = topk_cosine(vecs, queries, k=gen.TOP_K).collect()
        wall = time.perf_counter() - t0
        pair_rows = [(r["d1"], r["d2"], r["jaccard"]) for r in pairs.collect()]
        pairs.unpersist()
        problems = checks.check_near_dup(
            pair_rows, comp_rows, self.inp.texts, self.inp.clusters, self.shingle_cache
        )
        problems += checks.check_topk(
            [(r["q_id"], r["neighbor_id"], r["rank"], r["cosine"]) for r in nn], self.inp.topk
        )
        return OpResult(self.name, wall, self.inp.n_docs, None, problems)

    def candidate_pairs(self) -> int:
        """Distinct LSH candidate pairs of the run's corpus (fixed by the
        input, so counted once per traced run, outside every timing)."""
        from mapreduce_paradigm_spark.operators.dedup import minhash_lsh_stats

        stats = minhash_lsh_stats(self.spark.read.parquet(self.inp.path))
        return stats["n_candidate_pairs_distinct"]


WORKLOADS = {w.name: w for w in (IndexBuild, NearDup)}
