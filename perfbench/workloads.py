"""The benchmark's workloads: seeded inputs, the set-up that builds the
graph, and the timed operator calls with their expected results.

Each workload only calls the engine's public functions.  Inputs are
generated from the seed; expected results come from ``oracle.py``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle


@dataclass
class Op:
    """One timed operator call: ``run(graph)`` returns ``(result_frame,
    stats_or_None)``; the result's second column must equal ``expect``
    (exactly, or within ``tol`` for floats), and ``check(stats)``, when
    given, must hold too."""

    name: str
    run: Callable
    expect: np.ndarray
    tol: float | None = None
    check: Callable | None = None


def _lineitem(seed: int, orders: int, parts: int):
    """TPC-H-shaped lineitem (orderkey, partkey): four lines per order on
    average, parts uniform — the shape of the relational test tables."""
    rng = np.random.default_rng(seed)
    return (
        rng.integers(0, orders, 4 * orders, dtype=np.int64),
        rng.integers(0, parts, 4 * orders, dtype=np.int64),
    )


def _seeds(seed: int):
    """A seed's own sequence of candidate input seeds, disjoint from every
    other seed's below 10^6."""
    return range(seed, seed + 1_000_000 * 10_000, 1_000_000)


class Cooc:
    """Co-occurrence graph built by the relational source (self-join), in
    the default broadcast regime.  Every table of this shape takes pagerank
    8 steps, so each seed gives the same iterative work."""

    orders, parts = 15_000, 2_000  # the sf0.01 table shape
    regime: dict[str, str] = {}
    layer = "build"

    def __init__(self, seed: int, work: str):
        o, p = _lineitem(seed, self.orders, self.parts)
        self.oracle = oracle.cooccurrence_edges(o, p)
        self.data = os.path.join(work, "data")
        os.makedirs(self.data, exist_ok=True)
        pq.write_table(
            pa.table({"l_orderkey": o, "l_partkey": p}), os.path.join(self.data, "lineitem.parquet")
        )
        self.source = int(np.random.default_rng(seed + 1).choice(self.oracle.ids))

    def build(self, spark):
        from tcr_kcore_spark import LinkGraph
        from tcr_kcore_spark.sources.relational import cooccurrence_edges

        g = LinkGraph(cooccurrence_edges(spark, self.data), directed=False)
        return g, g.materialize()

    def release(self, g) -> None:
        g.unpersist()

    def setup_checks(self, spark, g, n_edges: int) -> list[tuple[str, bool]]:
        return [("edges", n_edges == len(self.oracle.src))]

    def ops(self) -> list[Op]:
        from tcr_kcore_spark.operators import bfs, connected_components, kcore, label_propagation, pagerank
        from tcr_kcore_spark.operators.triangles import triangles_per_vertex

        G = self.oracle
        # pagerank runs last: the first calls of a pass also pay the JVM's
        # one-time compilation of the shared join and aggregate plans, and
        # pagerank's time is an end-to-end metric
        return [
            Op("components", lambda g: connected_components(g), oracle.components(G)),
            Op("kcore", lambda g: kcore(g), oracle.coreness(G)),
            Op("triangles", lambda g: (triangles_per_vertex(g), None), oracle.triangles(G)),
            Op("bfs", lambda g: bfs(g, self.source), oracle.bfs(G, self.source)),
            Op("lpa", lambda g: label_propagation(g, rounds=2), oracle.lpa(G, 2)),
            Op("pagerank", lambda g: pagerank(g, tol=1e-6), oracle.pagerank(G, 1e-6, 100), 1e-6),
        ]


class CorpusShuffle:
    """Synthetic source corpus ingested into its directed import graph,
    analysed in the shuffle regime the engine uses at scale: vertex state is
    shuffle-joined against the edges, kcore runs the distributed h-index
    fixpoint, and pagerank checkpoints, then resumes."""

    size = "tiny"
    pagerank_steps = 6  # below convergence on every seed: fixed work
    regime = {"SPARK_GRAFT_BROADCAST_MAX_ROWS": "0"}
    layer = "ingest"

    def __init__(self, seed: int, work: str):
        from tcr_kcore_spark.sources.corpus import synth_corpus_pdf

        # Tiny corpora differ widely in size, cycle structure and core depth,
        # and the work of every call follows them.  The seed picks the first
        # corpus in its own sequence with 148 to 156 edges, a 4- or 5-round
        # h-index fixpoint and 12 to 14 scc supersteps (one candidate in
        # about 85), so every seed gets a different corpus that costs about
        # the same number of supersteps.
        self.checkpoints = os.path.join(work, "checkpoints")
        for self.seed in _seeds(seed):
            self.oracle = oracle.corpus_edges(synth_corpus_pdf(self.size, self.seed))
            if self.accept(self.oracle):
                break
        else:
            raise RuntimeError(f"no corpus of the benchmark's shape for seed {seed}")

    def accept(self, g: oracle.Graph) -> bool:
        return (
            148 <= len(g.src) <= 156
            and oracle.hindex_rounds(g) in (4, 5)
            and 12 <= oracle.scc_supersteps(g) <= 14
        )

    def build(self, spark):
        from tcr_kcore_spark import LinkGraph
        from tcr_kcore_spark.sources.corpus import synth_corpus
        from tcr_kcore_spark.sources.ingest import corpus_to_edges

        self.corpus = synth_corpus(spark, self.size, seed=self.seed)
        edges, self.ids = corpus_to_edges(self.corpus)
        g = LinkGraph(edges, directed=True)
        return g, g.materialize()

    def release(self, g) -> None:
        from tcr_kcore_spark.superstep import release_state

        g.unpersist()
        release_state(g.edges)
        release_state(self.ids)

    def setup_checks(self, spark, g, n_edges: int) -> list[tuple[str, bool]]:
        from tcr_kcore_spark.sources.ingest import file_table, sha256_invariant_check

        e = g.edges.collect()
        got = sorted((r["src"], r["dst"]) for r in e)
        want = sorted(zip(self.oracle.src.tolist(), self.oracle.dst.tolist()))
        return [
            ("edges", got == want),
            ("sha256", sha256_invariant_check(self.corpus, file_table(self.corpus)) == 0),
        ]

    def pagerank(self, g, resume: bool):
        """Pagerank to the step cap, checkpointing every 4 steps; a call that
        does not resume starts with no checkpoint on disk."""
        from tcr_kcore_spark.operators import pagerank

        if not resume:
            shutil.rmtree(self.checkpoints, ignore_errors=True)
        return pagerank(
            g, tol=1e-6, max_iter=self.pagerank_steps, checkpoint_dir=self.checkpoints,
            checkpoint_every=4, resume=resume,
        )

    def ops(self) -> list[Op]:
        from tcr_kcore_spark.operators import kcore, scc

        G, n = self.oracle, self.pagerank_steps
        ranks = oracle.pagerank(G, 1e-6, n)

        return [
            Op("kcore", lambda g: kcore(g, local_finish_vertices=0), oracle.coreness(G)),
            # the step-4 checkpoint is written...
            Op("pagerank", lambda g: self.pagerank(g, False), ranks, 1e-6, lambda st: st.checkpoints >= 1),
            # ...and the resume starts from it and runs only the last 2 steps
            Op(
                "resume", lambda g: self.pagerank(g, True), ranks, 1e-6,
                lambda st: st.resumed_from == 4 and st.supersteps == n - 4,
            ),
            Op("scc", lambda g: scc(g), oracle.scc(G)),
        ]


WORKLOADS = {"cooc_sf0.01": Cooc, "corpus_tiny_shuffle": CorpusShuffle}
