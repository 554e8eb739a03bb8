from __future__ import annotations

from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tests.conftest import edges_df


def test_symmetrize_dedup_selfloops(spark):
    e = edges_df(spark, [(0, 1), (1, 0), (1, 2), (2, 2), (1, 2)])
    g = LinkGraph.from_edges(e, directed=False)
    rows = {(r["src"], r["dst"]) for r in g.edges.collect()}
    assert rows == {(0, 1), (1, 0), (1, 2), (2, 1)}


def test_vertices_and_degrees(spark):
    e = edges_df(spark, [(0, 1), (0, 2), (3, 0)])
    g = LinkGraph.from_edges(e, directed=True)
    assert {r["id"] for r in g.vertices().collect()} == {0, 1, 2, 3}
    out = {r["id"]: r["out_deg"] for r in g.out_degrees().collect()}
    assert out == {0: 2, 3: 1}
    deg = {r["id"]: r["degree"] for r in g.degrees().collect()}
    assert deg == {0: 3, 1: 1, 2: 1, 3: 1}


def test_dense_id_map(spark):
    e = edges_df(spark, [(100, 7), (7, 42), (999, 100)])
    g = LinkGraph.from_edges(e)
    m = {r["orig"]: r["id"] for r in g.dense_id_map().collect()}
    assert m == {7: 0, 42: 1, 100: 2, 999: 3}
    dense, _ = g.densify()
    assert {(r["src"], r["dst"]) for r in dense.edges.collect()} == {
        (2, 0),
        (0, 1),
        (3, 2),
    }


def test_dedup_min_weight_survives_any_column_order(spark):
    # parallel edges with weight NOT the first attribute column: the
    # whole-row tie-break must still keep the minimum weight (SSSP contract)
    df = spark.createDataFrame(
        [(0, 1, "zz", 5.0), (0, 1, "aa", 2.0), (0, 1, "mm", 9.0)],
        "src long, dst long, label string, weight double",
    )
    g = LinkGraph.from_edges(df, directed=True)
    rows = g.edges.collect()
    assert len(rows) == 1
    r = rows[0]
    # min weight wins, and the surviving attributes come from THAT row
    assert r["weight"] == 2.0 and r["label"] == "aa"
    assert g.edges.columns == ["src", "dst", "label", "weight"]


def test_subgraphs(spark):
    e = edges_df(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])
    g = LinkGraph.from_edges(e)
    vs = spark.createDataFrame([(0,), (1,)], "id long")
    semi = g.semi_subgraph(vs)  # keeps all out-nbrs of {0,1} (dst unfiltered)
    assert {(r["src"], r["dst"]) for r in semi.edges.collect()} == {(0, 1), (1, 2)}
    ind = g.induced_subgraph(vs)
    assert {(r["src"], r["dst"]) for r in ind.edges.collect()} == {(0, 1)}
    removed = g.remove_vertices(spark.createDataFrame([(0,)], "id long"))
    assert {(r["src"], r["dst"]) for r in removed.edges.collect()} == {(1, 2), (2, 3)}


def test_degree_stats(spark):
    e = edges_df(spark, [(0, 1), (0, 2), (0, 3), (1, 2)])
    stats = LinkGraph.from_edges(e).degree_stats()
    assert stats["v"] == 2 and stats["e"] == 4 and stats["max_deg"] == 3


def test_graph_owned_tables_are_shared_and_survive_clear_cache(spark):
    """A materialized graph builds its derived tables once and hands the
    same frames to every caller; after ``spark.catalog.clearCache()`` it
    rebuilds them (and re-persists its edges) rather than handing out
    uncached frames.  A graph that is not materialized owns nothing."""
    e = edges_df(spark, [(0, 1), (1, 2), (2, 0), (3, 0)])
    g = LinkGraph.from_edges(e, directed=True)
    verts, n = g.vertex_set()
    assert n is None and not verts.is_cached and g.owned_caches() == []
    assert g.undirected_view() is not g.undirected_view()

    g.materialize()
    verts, n = g.vertex_set()
    layout = g.superstep_edges(bcast=True)
    view = g.undirected_view()
    assert n == 4 and g.vertex_set()[0] is verts
    assert g.superstep_edges(bcast=True) is layout
    assert g.superstep_edges(bcast=False) is not layout
    assert g.undirected_view() is view and not view.directed
    assert g.out_degree_table() is g.out_degree_table()
    assert {r["id"]: r["out_deg"] for r in g.out_degree_table().collect()} == {
        0: 1, 1: 1, 2: 1, 3: 1
    }

    spark.catalog.clearCache()
    verts2, n2 = g.vertex_set()
    assert verts2 is not verts and n2 == 4
    for df in (verts2, g.edges, g.superstep_edges(bcast=True), g.undirected_view().edges):
        assert df.storageLevel.useMemory
    assert {r["id"] for r in verts2.collect()} == {0, 1, 2, 3}
    assert g.undirected_view().vertex_set()[1] == 4

    g.unpersist()
    assert g.owned_caches() == [] and view.owned_caches() == []
    assert not g.edges.storageLevel.useMemory
