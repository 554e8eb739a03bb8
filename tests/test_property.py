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

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators import connected_components, kcore

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
    got = {r["id"]: r["component"] for r in connected_components(g)[0].collect()}
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
    got = {r["id"]: r["coreness"] for r in kcore(g, mode=mode)[0].collect()}
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
    return {r["id"]: r[col] for r in df.collect()}


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(raw=adversarial_edges, directed=st.booleans())
def test_local_and_distributed_regimes_agree(spark, monkeypatch, raw, directed):
    from tcr_kcore_spark.operators.triangles import triangles_per_vertex

    verts, edges = _simple(raw)
    # undirected: symmetrized and deduped, self-loops kept in the table;
    # directed: the raw rows, duplicates and loops included
    g = (
        LinkGraph(edges_df(spark, raw), directed=True)
        if directed
        else LinkGraph.from_edges(edges_df(spark, raw), directed=False, drop_self_loops=False)
    )
    g.materialize()
    # the undirected view of a directed graph drops loops at build time, so
    # a vertex whose only edge is a self-loop is not one of its vertices
    want_ids = {r["id"] for r in g.undirected_view().vertices().collect()}
    assert want_ids == (verts - {11 + _BIG} if directed else verts)
    core = {v: 0 for v in want_ids} | oracles.coreness(edges)
    tri = {v: 0 for v in want_ids} | oracles.triangles(edges)

    (kl, sl), (kd, sd) = _both_regimes(monkeypatch, lambda: kcore(g))
    assert sl.supersteps == 1 and sl.local_finish_secs > 0
    assert sd.local_finish_secs == 0.0
    assert _rows(kl, "coreness") == _rows(kd, "coreness") == core

    pl, pd = _both_regimes(monkeypatch, lambda: kcore(g, mode="peel")[0])
    assert _rows(pl, "coreness") == _rows(pd, "coreness") == core

    tl, td = _both_regimes(monkeypatch, lambda: triangles_per_vertex(g))
    assert (tl.regime, td.regime) == ("local", "distributed")
    assert _rows(tl, "triangles") == _rows(td, "triangles") == tri
    g.unpersist()
