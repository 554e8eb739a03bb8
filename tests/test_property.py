"""Property-based correctness: random adversarial edge lists (dupes,
self-loops, isolated-ish shapes, multi-component) through the engine vs the
independent NumPy oracles.  Complements the fixed fixtures — Hypothesis
explores graph shapes nobody thought to write down, with shrinking to a
minimal counterexample on failure.

Examples are deliberately few (Spark jobs cost ~1s each); the generator
space is what matters, not the count.
"""

from __future__ import annotations

import sys
from pathlib import Path

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import numpy as np

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators import (
    bfs,
    connected_components,
    kcore,
    label_propagation,
    pagerank,
    personalized_pagerank,
)
from tcr_kcore_spark.superstep import release_state

from tests import oracles
from tests.conftest import edges_df

# up to 60 directed edge tuples over ≤14 vertices: dense enough for cores,
# small enough to shrink; duplicates and self-loops included on purpose
edge_lists = st.lists(
    st.tuples(st.integers(0, 13), st.integers(0, 13)),
    min_size=1,
    max_size=60,
)


def _clean(raw):
    """The engine's build semantics (drop self-loops, symmetrize, dedup)
    applied in plain Python — the oracle's input contract."""
    out = set()
    for a, b in raw:
        if a != b:
            out.add((a, b))
            out.add((b, a))
    return sorted(out)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=edge_lists)
def test_components_random_graphs(spark, raw):
    edges = _clean(raw)
    if not edges:
        return
    g = LinkGraph.from_edges(edges_df(spark, raw), directed=False)
    out = connected_components(g)[0]
    got = {r["id"]: r["component"] for r in out.collect()}
    release_state(out)
    assert got == oracles.components(edges)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=edge_lists, mode=st.sampled_from(["hindex", "peel"]))
def test_kcore_random_graphs(spark, raw, mode):
    edges = _clean(raw)
    if not edges:
        return
    g = LinkGraph.from_edges(edges_df(spark, raw), directed=False)
    out = kcore(g, mode=mode)[0]
    got = {r["id"]: r["coreness"] for r in out.collect()}
    release_state(out)
    assert got == oracles.coreness(edges)


# Differential: the driver-local regime against the forced-distributed one
# (SPARK_GRAFT_BROADCAST_MAX_ROWS=0) on the inputs where they used to part:
# self-loops (the reference drops them, graph.cpp:87-101), multi-edges, a
# vertex whose only edge is a self-loop, and ids past int32.
_BIG = 2**33

adversarial_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=40
).map(
    # vertex 11's only edge is a self-loop; ids ≥ 5 move past int32
    lambda raw: [(a + _BIG * (a >= 5), b + _BIG * (b >= 5)) for a, b in raw]
    + [(11 + _BIG, 11 + _BIG), raw[0], raw[0][::-1]]
)


def _simple(raw):
    """The reference's simple undirected graph of ``raw``: every endpoint
    is a vertex, self-loops and duplicate edges are dropped."""
    verts = {v for e in raw for v in e}
    return verts, _clean(raw)


def _both_regimes(monkeypatch, run):
    """``run()`` in the local regime, then with the regime override 0."""
    local = run()
    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_BROADCAST_MAX_ROWS", "0")
        distributed = run()
    return local, distributed


def _rows(df, col):
    """``{id: col}`` of a result, which is then released."""
    got = {r["id"]: r[col] for r in df.collect()}
    release_state(df)
    return got


def _adversarial_graph(spark, raw, directed):
    """Materialized graph of ``raw``.  Undirected: symmetrized and deduped,
    self-loops kept in the table; directed: the raw rows, duplicates and
    loops included."""
    g = (
        LinkGraph(edges_df(spark, raw), directed=True)
        if directed
        else LinkGraph.from_edges(edges_df(spark, raw), directed=False, drop_self_loops=False)
    )
    g.materialize()
    return g


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=adversarial_edges, directed=st.booleans())
# a second loop-only vertex, 0, beside 11 + 2^33
@example(raw=[(0, 0), (11 + _BIG, 11 + _BIG), (0, 0), (0, 0)], directed=True)
def test_local_and_distributed_regimes_agree(spark, monkeypatch, raw, directed):
    from tcr_kcore_spark.operators.triangles import triangles_per_vertex

    verts, edges = _simple(raw)
    g = _adversarial_graph(spark, raw, directed)
    # the undirected view of a directed graph drops loops at build time, so
    # a vertex whose only edges are self-loops (11 + 2^33 always, and any
    # raw[0] = (v, v)) is not one of its vertices
    want_ids = {r["id"] for r in g.undirected_view().vertices().collect()}
    assert want_ids == ({v for e in edges for v in e} if directed else verts)
    core = {v: 0 for v in want_ids} | oracles.coreness(edges)
    tri = {v: 0 for v in want_ids} | oracles.triangles(edges)

    (kl, sl), (kd, sd) = _both_regimes(monkeypatch, lambda: kcore(g))
    assert sl.supersteps == 1 and sl.local_finish_secs > 0
    assert sd.local_finish_secs == 0.0
    assert (sl.regime, sd.regime) == ("local", "shuffle")
    assert _rows(kl, "coreness") == _rows(kd, "coreness") == core

    pl, pd = _both_regimes(monkeypatch, lambda: kcore(g, mode="peel")[0])
    assert _rows(pl, "coreness") == _rows(pd, "coreness") == core

    tl, td = _both_regimes(monkeypatch, lambda: triangles_per_vertex(g))
    assert (tl.regime, td.regime) == ("local", "distributed")
    assert _rows(tl, "triangles") == _rows(td, "triangles") == tri
    g.unpersist()


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=adversarial_edges, directed=st.booleans())
def test_edge_support_enumerator_random_graphs(spark, monkeypatch, raw, directed):
    """The distributed triangle enumerator and its readers against the
    oracles: ``edge_support``, ``ktruss`` (k = 3, 4) and the distributed
    ``triangles_per_vertex`` (broadcast zero-fill), once with every id
    inside int32 (narrowed wedge join) and once with every id ≥ 2^33."""
    from tcr_kcore_spark.operators.triangles import edge_support, ktruss, triangles_per_vertex
    from tcr_kcore_spark.superstep import release_state

    # the local kernel declines every graph, even one with no wedge
    monkeypatch.setattr("tcr_kcore_spark.operators.triangles.LOCAL_MAX_WEDGES", -1)
    for shift in (0, _BIG):
        shifted = [(a % _BIG + shift, b % _BIG + shift) for a, b in raw]
        _, edges = _simple(shifted)
        g = _adversarial_graph(spark, shifted, directed)
        want_ids = {r["id"]: 0 for r in g.undirected_view().vertices().collect()}
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
        support = {(a, b): len(adj[a] & adj[b]) for a, b in edges if a < b}

        canon = (
            g.undirected_view().edges.where("src < dst")
            .selectExpr("src as a", "dst as b").distinct()
        )
        sup = edge_support(canon)
        got = {(r["a"], r["b"]): r["support"] for r in sup.collect()}
        assert got == {e: s for e, s in support.items() if s}
        release_state(sup)

        for k in (3, 4):
            out, stats = ktruss(g, k)
            assert stats.converged
            assert set(map(tuple, out.collect())) == oracles.ktruss(edges, k)
            release_state(out)

        tri = triangles_per_vertex(g)
        assert tri.regime == "distributed"
        assert _rows(tri, "triangles") == want_ids | oracles.triangles(edges)
        g.unpersist()


# The vertex programs in the three regimes: the driver-local kernels, the
# broadcast-distributed supersteps (local entry cap 0) and the shuffle ones
# (SPARK_GRAFT_BROADCAST_MAX_ROWS=0).
_REGIMES = ("local", "broadcast", "shuffle")


def _in_regime(monkeypatch, regime, run):
    with monkeypatch.context() as m:
        if regime != "local":
            m.setattr("tcr_kcore_spark.plans.partitioning.LOCAL_MAX_ENTRIES", 0)
        if regime == "shuffle":
            m.setenv("SPARK_GRAFT_BROADCAST_MAX_ROWS", "0")
        out, stats = run()
        rows = sorted((r[0], r[1]) for r in out.collect())
        release_state(out)
    assert stats.regime == regime
    return rows, stats


def _assert_same(want: dict, got: list, exact: bool) -> None:
    """``got`` rows equal ``want``: ints exactly, ranks to rtol 1e-9."""
    ids = [i for i, _ in got]
    assert ids == sorted(want), (ids, sorted(want))
    vals = [v for _, v in got]
    if exact:
        assert vals == [want[i] for i in ids]
    else:
        np.testing.assert_allclose(vals, [want[i] for i in ids], rtol=1e-9)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=adversarial_edges, directed=st.booleans())
@example(raw=[(0, 0), (11 + _BIG, 11 + _BIG), (0, 0), (0, 0)], directed=True)
def test_vertex_programs_agree_across_regimes(spark, monkeypatch, raw, directed):
    """hashmin components, bfs (from a vertex and from an id outside the
    graph), lpa, pagerank (converging, fixed 5 steps, dangling) and ppr
    (one seed outside the graph and one repeated, as a list and as a
    DataFrame): the same ids, values, supersteps and convergence in all
    three regimes, each equal to the oracle.  The
    engine counts every row of its edge table, so the oracles read the
    same rows: the directed graph's raw rows (multi-edges and self-loops
    included) and the undirected graph's symmetric table (self-loops
    kept); components and lpa run on the undirected view, which drops a
    directed graph's self-loops."""
    g = _adversarial_graph(spark, raw, directed)
    table = raw if directed else sorted({(a, b) for a, b in raw} | {(b, a) for a, b in raw})
    view = _clean(raw) if directed else table
    src, seeds = raw[0][0], [raw[0][1], 3 * _BIG, raw[0][1]]
    seed_df = spark.createDataFrame([(s,) for s in seeds], "id long")
    cases = {
        "components": (
            lambda: connected_components(g, mode="hashmin"),
            oracles.components(view),
        ),
        "bfs": (lambda: bfs(g, src), oracles.bfs(table, src, not directed, simple=False)),
        "bfs_absent": (
            lambda: bfs(g, 3 * _BIG),
            oracles.bfs(table, 3 * _BIG, not directed, simple=False),
        ),
        "lpa": (lambda: label_propagation(g, rounds=3), oracles.lpa(view, 3, simple=False)),
        "pagerank": (
            lambda: pagerank(g, tol=1e-6),
            oracles.pagerank(table, max_iter=100, simple=False),
        ),
        "pagerank_i5": (
            lambda: pagerank(g, tol=-1.0, max_iter=5),
            oracles.pagerank(table, iters=5, simple=False),
        ),
        "pagerank_dangling": (
            lambda: pagerank(g, dangling=True),
            oracles.pagerank(table, dangling=True, max_iter=100, simple=False),
        ),
        "ppr": (
            lambda: personalized_pagerank(g, seeds, max_iter=6),
            oracles.pagerank(table, iters=6, simple=False, seeds=seeds),
        ),
        "ppr_df": (
            lambda: personalized_pagerank(g, seed_df, max_iter=6),
            oracles.pagerank(table, iters=6, simple=False, seeds=seeds),
        ),
    }
    for name, (run, want) in cases.items():
        exact = not name.startswith(("pagerank", "ppr"))
        got = {r: _in_regime(monkeypatch, r, run) for r in _REGIMES}
        for regime, (rows, stats) in got.items():
            _assert_same(want, rows, exact)
            local = got["local"][1]
            assert (stats.supersteps, stats.converged) == (local.supersteps, local.converged), (
                name,
                regime,
            )
        if name == "bfs_absent":
            assert got["local"][1].supersteps == 1
    g.unpersist()
