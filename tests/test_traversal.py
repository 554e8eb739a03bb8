from __future__ import annotations

import pytest

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators import bfs, sssp
from tests import oracles
from tests.conftest import edges_df


def test_bfs_directed_chain(spark, regime="local"):
    edges = [(0, 1), (1, 2), (2, 3), (5, 0)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=True)
    result, stats = bfs(g, source=0)
    got = {r["id"]: r["distance"] for r in result.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 5: None}
    assert stats.converged
    assert stats.regime == regime


def test_bfs_directed_chain_broadcast(spark, broadcast):
    test_bfs_directed_chain(spark, broadcast)


def test_bfs_undirected_er(spark, regime="local"):
    edges = oracles.er_graph(n=300, avg_deg=4, seed=5)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, stats = bfs(g, source=0)
    got = {r["id"]: r["distance"] for r in result.collect()}
    want = oracles.bfs(edges, source=0, symmetric=True)
    assert got == want
    assert stats.regime == regime


def test_bfs_undirected_er_broadcast(spark, broadcast):
    test_bfs_undirected_er(spark, broadcast)


def test_sssp_weighted(spark):
    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    weights = [1.0, 1.0, 5.0, 2.0]
    g = LinkGraph.from_edges(edges_df(spark, edges, weights), directed=True, dedup=False)
    result, _ = sssp(g, source=0)
    got = {r["id"]: r["distance"] for r in result.collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: 4.0}


def test_sssp_er_vs_oracle(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    base = oracles.er_graph(n=120, avg_deg=5, seed=11)
    # dedup first so Spark's dropDuplicates can't pick a different weight
    base = sorted(set(base))
    weights = [float(w) for w in rng.integers(1, 10, size=len(base))]
    g = LinkGraph.from_edges(
        edges_df(spark, base, weights), directed=True, dedup=False
    )
    result, _ = sssp(g, source=0)
    got = {r["id"]: r["distance"] for r in result.collect()}
    want = oracles.sssp([(s, d, w) for (s, d), w in zip(base, weights)], source=0)
    assert got == want
