"""Cache discipline: operators must not leak persisted blocks.

Round-2 finding: triangles/LCC/dense_id_map/ingest persisted frames for the
session lifetime, and release_state() silently failed to free localCheckpoint
blocks (DataFrame.unpersist is a CacheManager op; localCheckpoint persists
the underlying RDD directly).  These tests assert the persistent-RDD set
returns to its baseline after each operator's result is released — a
pipeline can now call operators repeatedly without accumulating blocks.

Ownership rule: a materialized graph owns its edge cache and its derived
tables (vertex set, out-degrees, superstep layouts, symmetrized view), and
an operator call leaves exactly those behind — the persistent-RDD set is
the baseline plus the graph-owned RDDs and the CacheManager holds only
graph-owned plans — until ``g.unpersist()`` returns to the baseline taken
before ``materialize()``.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.superstep import release_state, truncate_lineage

from tests.conftest import edges_df
from tests import oracles


def _persistent_ids(spark) -> set:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _owned_entries(spark, g: LinkGraph) -> list:
    """The CacheManager entries behind ``g``'s graph-owned frames."""
    cm = _cache_manager(spark)
    found = [cm.lookupCachedData(df._jdf) for df in g.owned_caches()]
    return [e.get() for e in found if e.isDefined()]


def _owned_ids(spark, g: LinkGraph) -> set:
    """RDD ids of ``g``'s graph-owned caches that have been materialized."""
    ids = set()
    for entry in _owned_entries(spark, g):
        builder = entry.cachedRepresentation().cacheBuilder()
        if builder.isCachedColumnBuffersLoaded():
            ids.add(builder.cachedColumnBuffers().id())
    return ids


def _foreign_entries(spark, g: LinkGraph) -> int:
    """CacheManager entries that are not ``g``'s (the entry list is a
    private field: read it reflectively)."""
    cm = _cache_manager(spark)
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    owned = _owned_entries(spark, g)
    return sum(
        not any(entries.apply(i).equals(o) for o in owned) for i in range(entries.size())
    )


def _assert_only_graph_owned(spark, g: LinkGraph, base: set, what: str) -> None:
    """The persistent-RDD set is ``base`` plus exactly ``g``'s RDDs, and
    the CacheManager holds only ``g``'s plans."""
    owned = _owned_ids(spark, g)
    got = _persistent_ids(spark)
    assert got == base | owned, f"{what} leaked persistent RDDs: {got - base - owned}"
    assert _foreign_entries(spark, g) == 0, f"{what} left cached frames behind"


def _graph(spark) -> LinkGraph:
    return LinkGraph.from_edges(
        edges_df(spark, oracles.er_graph(n=80, avg_deg=6, seed=11)), directed=False
    )


def test_truncate_release_frees_blocks(spark):
    base = _persistent_ids(spark)
    df = truncate_lineage(spark.range(100).selectExpr("id", "id * 2 AS y"))
    assert df.count() == 100
    assert _persistent_ids(spark) - base, "truncate_lineage should persist blocks"
    release_state(df)
    assert _persistent_ids(spark) - base == set()


def test_operators_release_to_baseline(spark):
    from tcr_kcore_spark.operators import (
        bfs,
        connected_components,
        hits,
        kcore,
        label_propagation,
        louvain,
        pagerank,
        scc,
        sssp,
        triangle_count,
    )
    from tcr_kcore_spark.functions.sketches import neighborhood_reach
    from tcr_kcore_spark.operators import ktruss, personalized_pagerank
    from tcr_kcore_spark.operators.triangles import (
        local_clustering_coefficient,
        triangles_per_vertex,
    )

    spark.catalog.clearCache()
    g = _graph(spark)
    base = _persistent_ids(spark)
    g.materialize()

    runs = [
        lambda: pagerank(g, tol=1e-4, max_iter=6)[0],
        lambda: connected_components(g, mode="hashmin")[0],
        lambda: connected_components(g, mode="smallstar")[0],
        lambda: kcore(g, mode="hindex")[0],
        lambda: kcore(g, mode="peel")[0],
        # pure distributed peel: deg/edges end the loop as truncate_lineage
        # frames, exercising the release_state (not unpersist) exit path
        lambda: kcore(g, mode="peel", local_finish_vertices=0)[0],
        lambda: bfs(g, source=0)[0],
        lambda: sssp(g, source=0, max_iter=8)[0],
        lambda: label_propagation(g, rounds=2)[0],
        lambda: hits(LinkGraph(g.edges, directed=True), max_iter=3, tol=-1.0)[0],
        lambda: louvain(g, max_levels=3, max_rounds=3, gain_threshold=1e-9)[0],
        lambda: scc(LinkGraph(g.edges, directed=True))[0],
        lambda: personalized_pagerank(g, seeds=[0, 1], tol=1e-4, max_iter=6)[0],
        lambda: ktruss(g, k=3)[0],
        lambda: neighborhood_reach(g, hops=2, lg_k=8),
        lambda: triangles_per_vertex(g),
        lambda: triangle_count(g),
        lambda: local_clustering_coefficient(g),
    ]
    for i, run in enumerate(runs):
        out = run()
        assert out.count() >= 1
        release_state(out)
        _assert_only_graph_owned(spark, g, base, f"operator #{i}")
    # the calls shared the graph's tables rather than building their own
    assert len(g.owned_caches()) > 1
    g.unpersist()
    assert _persistent_ids(spark) == base
    assert _cache_manager(spark).isEmpty()


def test_densify_and_ingest_release_to_baseline(spark):
    from tcr_kcore_spark.sources import corpus_to_edges, synth_corpus

    g = _graph(spark)
    base = _persistent_ids(spark)
    dense, mapping = g.densify()
    assert dense.edges.count() >= 1
    release_state(mapping)
    assert _persistent_ids(spark) - base == set()

    corpus = synth_corpus(spark, "tiny")
    edges, ids = corpus_to_edges(corpus)
    assert edges.count() >= 1
    release_state(edges)
    release_state(ids)
    assert _persistent_ids(spark) - base == set()


def test_scc_error_exit_releases_to_baseline(spark):
    import pytest

    from tcr_kcore_spark.operators import scc

    # a 30-cycle needs more than 2 min-propagation rounds per direction
    g = LinkGraph(edges_df(spark, [(i, (i + 1) % 30) for i in range(30)]), directed=True)
    spark.catalog.clearCache()
    base = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="max_inner=2"):
        scc(g, max_inner=2)
    assert _persistent_ids(spark) - base == set()
    # on a materialized graph the error exit keeps exactly the graph's own
    # tables, and unpersist returns to the baseline before materialize()
    g.materialize()
    with pytest.raises(RuntimeError, match="max_inner=2"):
        scc(g, max_inner=2)
    _assert_only_graph_owned(spark, g, base, "scc")
    g.unpersist()
    assert _persistent_ids(spark) == base
    assert _cache_manager(spark).isEmpty()


def test_vertex_programs_error_exit_release_to_baseline(spark, tmp_path, monkeypatch):
    """Every vertex-program operator frees its caches when it raises.

    Two failure points: a ``checkpoint_dir`` that is a regular file makes
    the loop raise ``FileExistsError`` before superstep 1 (the operator's
    vertex and edge caches are live), and ``truncate_lineage`` raising on
    its 2nd call fails superstep 2 (a truncated state is live too; the
    only failure point for operators without ``checkpoint_dir``).  The
    cache is cleared before each case: the CacheManager dedupes identical
    plans, so one case's leaked vertex cache would hide the next case's
    leak of the same frame.

    Every case runs on a graph that is not materialized (everything the
    call persisted must go) and on a materialized one, whose tables the
    cleared cache makes it rebuild: the exit keeps exactly the graph-owned
    caches, and ``unpersist`` returns to the baseline.  The driver-local
    regime is off (its entry cap 0): it runs no superstep to fail."""
    import pytest

    from tcr_kcore_spark import superstep
    from tcr_kcore_spark.compress import compress_graph, pagerank_factored
    from tcr_kcore_spark.operators import (
        bfs,
        connected_components,
        hits,
        kcore,
        kcore_hindex_rounds,
        label_propagation,
        louvain_phase1,
        pagerank,
        personalized_pagerank,
        sssp,
    )

    monkeypatch.setattr("tcr_kcore_spark.plans.partitioning.LOCAL_MAX_ENTRIES", 0)
    g = _graph(spark)
    d = LinkGraph(g.edges, directed=True)
    cg = compress_graph(d)
    bad = tmp_path / "regular_file"
    bad.write_text("")
    cases = {
        "pagerank": lambda ck: pagerank(g, max_iter=3, checkpoint_dir=ck),
        "personalized_pagerank": lambda ck: personalized_pagerank(
            g, seeds=[0], max_iter=3, checkpoint_dir=ck
        ),
        "components": lambda ck: connected_components(g, checkpoint_dir=ck),
        "bfs": lambda ck: bfs(g, source=0, checkpoint_dir=ck),
        "sssp": lambda ck: sssp(g, source=0, checkpoint_dir=ck),
        "lpa": lambda ck: label_propagation(g, rounds=3, checkpoint_dir=ck),
        "hits": lambda ck: hits(d, max_iter=3, tol=-1.0, checkpoint_dir=ck),
        "kcore": lambda ck: kcore(g, local_finish_vertices=0, checkpoint_dir=ck),
        "louvain_phase1": lambda ck: louvain_phase1(g, max_rounds=3, gain_threshold=1e-9),
        "kcore_hindex_rounds": lambda ck: kcore_hindex_rounds(g, 3),
        "pagerank_factored": lambda ck: pagerank_factored(cg, 3),
    }
    no_checkpoint_dir = {"louvain_phase1", "kcore_hindex_rounds", "pagerank_factored"}
    real_truncate = superstep.truncate_lineage

    def fail_second_call():
        calls = []

        def truncate(df):
            calls.append(1)
            if len(calls) == 2:
                raise RuntimeError("injected superstep failure")
            return real_truncate(df)

        return truncate

    def assert_released(name, run, exc, match):
        spark.catalog.clearCache()
        base = _persistent_ids(spark)
        with pytest.raises(exc, match=match):
            run()
        _assert_only_graph_owned(spark, g, base, name)

    def run_cases():
        for name, run in cases.items():
            if name not in no_checkpoint_dir:
                assert_released(name, lambda: run(str(bad)), FileExistsError, "")
            monkeypatch.setattr(superstep, "truncate_lineage", fail_second_call())
            assert_released(name, lambda: run(None), RuntimeError, "injected superstep failure")
            monkeypatch.setattr(superstep, "truncate_lineage", real_truncate)

    run_cases()
    assert g.owned_caches() == []
    base = _persistent_ids(spark)
    g.materialize()
    run_cases()
    g.unpersist()
    assert _persistent_ids(spark) == base
    cg.unpersist()
