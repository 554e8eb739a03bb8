"""Cache discipline: operators must not leak persisted blocks.

Round-2 finding: triangles/LCC/dense_id_map/ingest persisted frames for the
session lifetime, and release_state() silently failed to free localCheckpoint
blocks (DataFrame.unpersist is a CacheManager op; localCheckpoint persists
the underlying RDD directly).  These tests assert the persistent-RDD set
returns to its baseline after each operator's result is released — a
pipeline can now call operators repeatedly without accumulating blocks.
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

    g = _graph(spark)
    g.materialize()
    base = _persistent_ids(spark)

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
        leaked = _persistent_ids(spark) - base
        assert leaked == set(), f"operator #{i} leaked persistent RDDs: {leaked}"
    g.unpersist()


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
    base = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="max_inner=2"):
        scc(g, max_inner=2)
    assert _persistent_ids(spark) - base == set()
