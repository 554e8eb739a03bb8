"""SCC (forward-backward coloring + trim) vs hand graphs and an
independent iterative Tarjan oracle."""

from __future__ import annotations

import pytest

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators.scc import condensation, scc
from tests.conftest import edges_df


def tarjan_scc_ids(edges, vertices):
    """Iterative Tarjan; returns {v: min id of its SCC} — independent of
    the operator's coloring/trim structure."""
    adj = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, []).append(b)
    index, low, on, stack = {}, {}, set(), []
    sccs, counter = [], [0]
    for root in sorted(vertices):
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on.add(v)
            recurse = False
            nbrs = adj.get(v, [])
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    out = {}
    for comp in sccs:
        m = min(comp)
        for v in comp:
            out[v] = m
    return out


def run_scc(spark, edges):
    g = LinkGraph(edges_df(spark, edges), directed=True)
    out, stats = scc(g)
    return {r["id"]: r["scc_id"] for r in out.collect()}, stats


def test_scc_hand_graph(spark):
    # source 0 -> cycle {1,2,3} -> bridge -> cycle {5,6} -> sink 7
    edges = [(0, 1), (1, 2), (2, 3), (3, 1), (3, 5), (5, 6), (6, 5), (6, 7)]
    got, stats = run_scc(spark, edges)
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 7: 7}
    assert stats.converged


def test_scc_dag_trims_without_coloring(spark):
    """A pure DAG is fully peeled by the trim phase: one outer round, no
    min-propagation fixpoints ever run (supersteps == trim rounds only,
    bounded by DAG depth + 1)."""
    edges = [(i, j) for i in range(8) for j in range(i + 1, min(i + 3, 8))]
    got, stats = run_scc(spark, edges)
    assert got == {v: v for v in range(8)}
    assert stats.outer_rounds == 1
    assert stats.supersteps <= 10


def test_scc_single_big_cycle(spark):
    n = 12
    edges = [(i, (i + 1) % n) for i in range(n)]
    got, stats = run_scc(spark, edges)
    assert got == {v: 0 for v in range(n)}


def test_scc_random_vs_tarjan(spark):
    """Seeded sparse random digraph (chains + shortcuts + planted cycles)
    against the independent Tarjan oracle."""
    import random

    rng = random.Random(7)
    n = 250
    edges = set()
    for v in range(n - 1):
        if rng.random() < 0.8:
            edges.add((v, v + 1))
    for _ in range(260):
        edges.add((rng.randrange(n), rng.randrange(n)))
    edges = [(a, b) for a, b in edges if a != b]
    verts = {a for a, _ in edges} | {b for _, b in edges}
    expect = tarjan_scc_ids(edges, verts)
    got, stats = run_scc(spark, edges)
    assert got == expect
    assert stats.converged


def test_condensation_is_acyclic(spark):
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (4, 5)]
    e = edges_df(spark, edges)
    g = LinkGraph(e, directed=True)
    labels, _ = scc(g)
    cond = {(r["src_scc"], r["dst_scc"]) for r in condensation(labels, e).collect()}
    assert cond == {(0, 3), (3, 5)}


def test_scc_long_cycle_shortcut_rounds(spark):
    """r6 shortcutting: a directed 64-cycle (ids permuted so label chains
    form in both propagation directions) is ONE SCC whose min-label
    propagation needed ~2x64 one-hop rounds before; the per-round
    label-of-label shortcut compresses chains so the whole run finishes
    in a fraction of the linear count (measured 20 vs ~130)."""
    import random

    n = 64
    rng = random.Random(5)
    perm = list(range(n))
    rng.shuffle(perm)
    edges = [(perm[i], perm[(i + 1) % n]) for i in range(n)]
    g = LinkGraph.from_edges(edges_df(spark, edges))
    out, stats = scc(g)
    got = {r["id"]: r["scc_id"] for r in out.collect()}
    assert len(got) == n and set(got.values()) == {0}
    assert stats.converged
    # two fixpoints (fwd+bwd) + trim; linear would be ~2n rounds
    assert stats.supersteps <= 36, stats.supersteps


def test_scc_unconverged_inner_raises(spark):
    """ADVICE r5 (high): exiting the inner fixpoint via max_inner with
    changes outstanding must refuse instead of retiring vertices computed
    from unconverged labels (a directed 30-cycle with max_inner=2 used to
    shatter into 30 singletons with converged=True)."""
    n = 30
    edges = [(i, (i + 1) % n) for i in range(n)]
    g = LinkGraph.from_edges(edges_df(spark, edges))
    with pytest.raises(RuntimeError, match="max_inner"):
        scc(g, max_inner=2)


def test_scc_job_budget_shuffle_regime(spark, monkeypatch):
    """Noise-free fixed-cost evidence: the Spark jobs one ``scc`` call
    issues on a directed 30-cycle with a 5-vertex DAG tail, shuffle regime
    (8 cores, 8 shuffle partitions, the test session).  Two sequential
    min-propagation fixpoints per round, each with its own change-count
    job, and per-level retirement frames measured 560-562 jobs; the joint
    (id, dir) fixpoint with observed counts measured 325-329.  Round
    structure is unchanged: 6 trim levels plus 5 forward and 30 backward
    rounds (41 supersteps) in one outer round."""
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_MAX_ROWS", "0")
    edges = [(i, (i + 1) % 30) for i in range(30)]
    edges += [(29, 30), (30, 31), (31, 32), (32, 33), (33, 34)]
    g = LinkGraph(edges_df(spark, edges), directed=True)
    sc = spark.sparkContext
    sc.setJobGroup("scc_job_budget", "scc job budget")
    try:
        out, stats = scc(g)
        jobs = len(sc.statusTracker().getJobIdsForGroup("scc_job_budget"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = {r["id"]: r["scc_id"] for r in out.collect()}
    assert got == {**{v: 0 for v in range(30)}, **{v: v for v in range(30, 35)}}
    assert (stats.supersteps, stats.outer_rounds) == (41, 1)
    assert jobs <= 450, jobs
    # one wall time per trim level and per joint coloring round
    assert len(stats.history) == 6 + 30
