from __future__ import annotations

import numpy as np
import pytest

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators import pagerank
from tests import oracles
from tests.conftest import edges_df


def _check(spark, edges, dangling, tol=1e-6, regime="local"):
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=True)
    result, stats = pagerank(g, tol=tol, dangling=dangling, max_iter=200)
    got = {r["id"]: r["rank"] for r in result.collect()}
    want = oracles.pagerank(edges, tol=tol, dangling=dangling)
    assert stats.converged
    assert stats.regime == regime
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=5e-6), (v, got[v], want[v])


def test_pagerank_chain_dangling_flag(spark, regime="local"):
    # FIXTURES F3.5: directed chain 0→1→2, vertex 2 dangling
    edges = [(0, 1), (1, 2)]
    _check(spark, edges, dangling=False, regime=regime)
    _check(spark, edges, dangling=True, regime=regime)


def test_pagerank_chain_dangling_flag_broadcast(spark, broadcast):
    test_pagerank_chain_dangling_flag(spark, broadcast)


def test_pagerank_er_graph(spark, regime="local"):
    edges = oracles.er_graph(n=200, avg_deg=6)
    _check(spark, edges, dangling=False, regime=regime)


def test_pagerank_er_graph_broadcast(spark, broadcast):
    test_pagerank_er_graph(spark, broadcast)


def test_pagerank_er_graph_dangling(spark, regime="local"):
    edges = oracles.er_graph(n=150, avg_deg=5, seed=7)
    _check(spark, edges, dangling=True, regime=regime)


def test_pagerank_er_graph_dangling_broadcast(spark, broadcast):
    test_pagerank_er_graph_dangling(spark, broadcast)


def test_pagerank_zipf_hubs(spark, regime="local"):
    # hub-skewed destinations: the broadcast twin exercises the
    # partial-agg path under skew
    edges = oracles.zipf_hub_graph(n=400, m=2000)
    _check(spark, edges, dangling=False, regime=regime)


def test_pagerank_zipf_hubs_broadcast(spark, broadcast):
    test_pagerank_zipf_hubs(spark, broadcast)


def test_pagerank_star_hub(spark, regime="local"):
    # FIXTURES F3.3: star — hub rank ≫ leaf ranks
    edges = [(i, 0) for i in range(1, 6)] + [(0, i) for i in range(1, 6)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=True)
    result, stats = pagerank(g, tol=1e-8, max_iter=300)
    assert stats.regime == regime
    got = {r["id"]: r["rank"] for r in result.collect()}
    assert got[0] > 2 * got[1]
    want = oracles.pagerank(edges, tol=1e-8)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-6)


def test_pagerank_star_hub_broadcast(spark, broadcast):
    test_pagerank_star_hub(spark, broadcast)


def test_personalized_pagerank_numpy_oracle(spark, regime="local"):
    import numpy as np

    from tcr_kcore_spark.operators.pagerank import personalized_pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (1, 4)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    seeds = [0, 3]
    got, stats = personalized_pagerank(g, seeds, max_iter=12)
    assert (stats.supersteps, stats.regime) == (12, regime)
    # dense NumPy simulation with identical semantics
    V = 5
    sym = set()
    for a, b in edges:
        sym.add((a, b)); sym.add((b, a))
    outdeg = np.zeros(V)
    for a, _ in sym:
        outdeg[a] += 1
    p = np.zeros(V)
    p[seeds] = 1.0 / len(seeds)
    r = p.copy()
    for _ in range(12):
        msg = np.zeros(V)
        for a, b in sym:
            msg[b] += 0.85 * r[a] / outdeg[a]
        r = 0.15 * p + msg
    want = {i: r[i] for i in range(V)}
    for row in got.collect():
        assert abs(row["rank"] - want[row["id"]]) < 1e-12, row
    # probability mass is conserved on this dangling-free symmetric graph
    assert abs(sum(want.values()) - 1.0) < 1e-9


def test_personalized_pagerank_numpy_oracle_broadcast(spark, broadcast):
    test_personalized_pagerank_numpy_oracle(spark, broadcast)


def test_personalized_pagerank_tol_converges(spark, regime="local"):
    from tcr_kcore_spark.operators.pagerank import personalized_pagerank

    edges = [(i, (i + 1) % 10) for i in range(10)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    got, stats = personalized_pagerank(g, [0], tol=1e-10, max_iter=200)
    assert stats.converged and stats.supersteps < 200
    assert stats.regime == regime
    total = sum(r["rank"] for r in got.collect())
    assert abs(total - 1.0) < 1e-6  # no dangling on the symmetrized cycle


def test_personalized_pagerank_tol_converges_broadcast(spark, broadcast):
    test_personalized_pagerank_tol_converges(spark, broadcast)
