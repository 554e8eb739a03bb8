from __future__ import annotations

import pytest

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators import connected_components
from tests import oracles
from tests.conftest import edges_df


@pytest.mark.parametrize("mode", ["hashmin", "smallstar"])
def test_two_components(spark, mode, regime="local"):
    # FIXTURES F3.2: labels = min id per component
    edges = [(0, 1), (1, 2), (3, 4)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, stats = connected_components(g, mode=mode)
    got = {r["id"]: r["component"] for r in result.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}
    assert stats.converged
    if mode == "hashmin":  # smallstar always runs distributed
        assert stats.regime == regime


def test_two_components_hashmin_broadcast(spark, broadcast):
    test_two_components(spark, "hashmin", broadcast)


@pytest.mark.parametrize("mode", ["hashmin", "smallstar"])
def test_components_er(spark, mode, regime="local"):
    edges = oracles.er_graph(n=300, avg_deg=2, seed=3)  # sparse → many comps
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, stats = connected_components(g, mode=mode)
    got = {r["id"]: r["component"] for r in result.collect()}
    want = oracles.components(edges)
    assert got == want
    if mode == "hashmin":
        assert stats.regime == regime


def test_components_er_hashmin_broadcast(spark, broadcast):
    test_components_er(spark, "hashmin", broadcast)


def test_long_path_graph(spark):
    # path graph: worst case diameter for hashmin; smallstar needs O(log n)
    n = 60
    edges = [(i, i + 1) for i in range(n)]
    want = {v: 0 for v in range(n + 1)}
    for mode in ("hashmin", "smallstar"):
        g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
        result, stats = connected_components(g, mode=mode)
        got = {r["id"]: r["component"] for r in result.collect()}
        assert got == want, mode
    # smallstar should converge in far fewer supersteps than the diameter
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    _, st = connected_components(g, mode="smallstar")
    assert st.supersteps <= 12
