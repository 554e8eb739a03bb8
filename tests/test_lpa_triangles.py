from __future__ import annotations

import pytest

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators import (
    label_propagation,
    local_clustering_coefficient,
    triangle_count,
)
from tcr_kcore_spark.operators.triangles import triangles_per_vertex
from tests import oracles
from tests.conftest import edges_df


def test_lpa_two_cliques_bridge(spark, regime="local"):
    # two 4-cliques joined by one edge: labels converge per clique
    c1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    c2 = [(a, b) for a in range(4, 8) for b in range(a + 1, 8)]
    edges = c1 + c2 + [(3, 4)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, stats = label_propagation(g, rounds=5)
    got = {r["id"]: r["label"] for r in result.collect()}
    want = oracles.lpa(edges, rounds=5)
    assert got == want
    assert stats.regime == regime


def test_lpa_two_cliques_bridge_broadcast(spark, broadcast):
    test_lpa_two_cliques_bridge(spark, broadcast)


def test_lpa_er_matches_oracle(spark, regime="local"):
    edges = oracles.er_graph(n=200, avg_deg=5, seed=13)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    for rounds in (1, 3):
        result, stats = label_propagation(g, rounds=rounds)
        got = {r["id"]: r["label"] for r in result.collect()}
        want = oracles.lpa(edges, rounds=rounds)
        assert got == want, rounds
        assert stats.regime == regime


def test_lpa_er_matches_oracle_broadcast(spark, broadcast):
    test_lpa_er_matches_oracle(spark, broadcast)


def test_triangle_tail_counts(spark):
    # FIXTURES F3.1: per-vertex [1,1,1,0]
    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    got = {r["id"]: r["triangles"] for r in triangles_per_vertex(g).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 3: 0}
    assert triangle_count(g).first()["total_triangles"] == 1


def test_triangles_er_vs_oracle(spark):
    edges = oracles.er_graph(n=150, avg_deg=10, seed=21)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    got = {r["id"]: r["triangles"] for r in triangles_per_vertex(g).collect()}
    want = oracles.triangles(edges)
    assert got == want
    total = triangle_count(g).first()["total_triangles"]
    assert total == sum(want.values()) // 3


def test_triangles_wedge_cap_falls_back_to_wedge_join(spark, monkeypatch):
    """Above LOCAL_MAX_WEDGES oriented wedges the driver-local kernel
    declines and the distributed wedge join counts the same triangles."""
    from tcr_kcore_spark.operators import triangles

    edges = oracles.er_graph(n=150, avg_deg=10, seed=21)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    assert triangles_per_vertex(g).regime == "local"
    monkeypatch.setattr(triangles, "LOCAL_MAX_WEDGES", 0)
    out = triangles_per_vertex(g)
    assert out.regime == "distributed"
    assert {r["id"]: r["triangles"] for r in out.collect()} == oracles.triangles(edges)


def test_triangle_kernel_chunks_match_oracle(monkeypatch):
    """NumPy-level (no Spark): the chunked wedge enumeration gives the
    oracle's counts for any chunk size, hubs included."""
    import numpy as np

    from tcr_kcore_spark.operators import triangles

    for edges in (
        oracles.er_graph(n=120, avg_deg=9, seed=4),
        oracles.zipf_hub_graph(n=300, m=1500, seed=5),
    ):
        src = np.array([min(e) for e in edges], dtype=np.int64)
        dst = np.array([max(e) for e in edges], dtype=np.int64)
        want = oracles.triangles(edges)
        for chunk in (1, 7, 1 << 21):
            monkeypatch.setattr(triangles, "_WEDGE_CHUNK", chunk)
            got = triangles._triangle_kernel(src, dst)
            assert dict(zip(got["id"].tolist(), got["triangles"].tolist())) == want


def test_lcc(spark):
    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    got = {r["id"]: r["lcc"] for r in local_clustering_coefficient(g).collect()}
    assert got[0] == pytest.approx(1.0)
    assert got[2] == pytest.approx(2 * 1 / (3 * 2))
    assert got[3] == 0.0


def test_edge_support_matches_triangle_total(spark):
    from pyspark.sql import functions as F

    from tcr_kcore_spark.operators.triangles import edge_support

    edges = [(i, (i * 3 + 1) % 30) for i in range(60)] + [(0, 1), (1, 2), (0, 2)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    canon = (
        g.undirected_view().edges.where("src < dst")
        .selectExpr("src as a", "dst as b").distinct()
    )
    sup = edge_support(canon)
    total = sup.agg((F.sum("support") / 3).cast("long")).first()[0]
    ref = triangle_count(g).first()[0]
    assert total == ref


def test_ktruss_python_oracle(spark):
    import random

    from tcr_kcore_spark.operators.triangles import ktruss

    rng = random.Random(13)
    edges = list({tuple(sorted(rng.sample(range(25), 2))) for _ in range(120)})
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    for k in (3, 4, 5):
        got, stats = ktruss(g, k)
        assert stats.converged
        assert sorted(map(tuple, got.collect())) == sorted(oracles.ktruss(edges, k))


def test_ktruss_k4_is_k4(spark):
    from tcr_kcore_spark.operators.triangles import ktruss

    # K4 + pendant triangle: 4-truss keeps exactly the K4
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (3, 5)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    got, _ = ktruss(g, 4)
    assert sorted(map(tuple, got.collect())) == [
        (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)
    ]


def test_triangle_job_budgets(spark, monkeypatch):
    """Spark jobs per call (the call plus one count of its result, counted
    with ``setJobGroup``/``getJobIdsForGroup``) of the distributed triangle
    paths on the 80-vertex ER graph, materialized: ``triangles_per_vertex``
    forced past the local regime (``SPARK_GRAFT_BROADCAST_MAX_ROWS=0``;
    its first call counts the graph's vertex set), then ``ktruss(g, 3)``,
    whose rounds each truncate and count the survivors.  Before → after
    one wedge enumerator: triangles 24 → 21, ktruss 37-40 → 35 (the full
    recount runs no per-round drop count).  With the decrement arm,
    ktruss's count moved by up to three jobs from run to run, so it is
    held to a budget."""
    from tcr_kcore_spark.operators.triangles import ktruss
    from tcr_kcore_spark.superstep import release_state

    spark.catalog.clearCache()  # a leaked identical plan would hide jobs
    edges = oracles.er_graph(n=80, avg_deg=6, seed=11)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    g.materialize()
    sc = spark.sparkContext

    def jobs(name, run):
        group = f"triangle_job_budgets_{name}"  # job groups are session-wide
        sc.setJobGroup(group, group)
        try:
            out = run()
            out.count()
            n = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, n

    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_BROADCAST_MAX_ROWS", "0")
        tri, n_tri = jobs("triangles", lambda: triangles_per_vertex(g))
    assert tri.regime == "distributed"
    assert {r["id"]: r["triangles"] for r in tri.collect()} == oracles.triangles(edges)
    release_state(tri)
    truss, n_truss = jobs("ktruss", lambda: ktruss(g, 3)[0])
    assert set(map(tuple, truss.collect())) == oracles.ktruss(edges, 3)
    release_state(truss)
    g.unpersist()
    assert n_tri == 21
    assert n_truss <= 35
