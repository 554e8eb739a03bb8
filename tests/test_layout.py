"""locality_relabel: structure-aware renumbering (plans/layout.py)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators.kcore import kcore
from tcr_kcore_spark.plans.layout import locality_relabel
from tcr_kcore_spark.superstep import release_state
from tests.conftest import edges_df

# Each test releases the results it creates: one left cached is freed by
# the context cleaner at some later GC, possibly in the middle of a test
# that counts persistent RDDs.


def _two_cliques(spark, n=40):
    """Two disjoint 20-cliques with INTERLEAVED ids (even/odd) — the
    scrambled layout where every contiguous block straddles components."""
    edges = [(a, b) for a in range(0, n, 2) for b in range(0, n, 2) if a < b]
    edges += [(a, b) for a in range(1, n + 1, 2) for b in range(1, n + 1, 2) if a < b]
    return LinkGraph.from_edges(edges_df(spark, edges), directed=False)


def test_dense_bijection_and_component_contiguity(spark):
    g = _two_cliques(spark)
    _, mapping, stats = locality_relabel(g)
    m = {r["orig"]: r["id"] for r in mapping.collect()}
    release_state(mapping)
    assert sorted(m.values()) == list(range(40))
    # even component (min id 0 < 1) occupies new ids 0..19, contiguous
    assert sorted(m[v] for v in range(0, 40, 2)) == list(range(20))
    assert stats.supersteps > 0  # the components labeling run


def test_inblock_fraction_restored(spark):
    g = _two_cliques(spark)
    before, s_before = kcore(g, mode="peel", n_blocks=2, local_finish_vertices=0,
                             local_finish_edges=0)
    g2, mapping, _ = locality_relabel(g)
    after, s_after = kcore(g2, mode="peel", n_blocks=2, local_finish_vertices=0,
                           local_finish_edges=0)
    for df in (before, after, mapping):
        release_state(df)
    assert s_before.local_edge_frac < 0.6
    assert s_after.local_edge_frac == 1.0


def test_coreness_invariant_through_relabel(spark):
    rng = random.Random(7)
    edges = list({(a, b) for a, b in (sorted(rng.sample(range(60), 2))
                                      for _ in range(260))})
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    ref, _ = kcore(g, mode="peel", local_cascade=False)
    g2, mapping, _ = locality_relabel(g)
    kc, _ = kcore(g2, mode="peel", n_blocks=4, local_finish_vertices=0,
                  local_finish_edges=0)
    back = (
        kc.join(mapping.withColumnRenamed("id", "nid"), kc.id == F.col("nid"))
        .select(F.col("orig").alias("id"), "coreness")
    )
    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, back.collect()))
    for df in (ref, kc, mapping):
        release_state(df)


def test_caller_labels_string_key(spark):
    # corpus-style clustering key: order by repo name, ties by id
    edges = [(0, 3), (1, 4), (2, 5), (0, 4)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    labels = spark.createDataFrame(
        [(0, "zeta"), (3, "zeta"), (4, "zeta"), (1, "alpha"), (2, "alpha"),
         (5, "alpha")],
        "id long, repo string",
    )
    _, mapping, stats = locality_relabel(g, labels=labels)
    m = {r["orig"]: r["id"] for r in mapping.collect()}
    release_state(mapping)
    assert stats.supersteps == 0  # no labeling run when labels are given
    assert sorted(m.values()) == list(range(6))
    # alpha cluster (1,2,5) first in id order, then zeta (0,3,4)
    assert [m[1], m[2], m[5]] == [0, 1, 2]
    assert [m[0], m[3], m[4]] == [3, 4, 5]


def test_edge_attrs_survive(spark):
    edges, weights = [(0, 1), (1, 2)], [2.0, 5.0]
    g = LinkGraph.from_edges(edges_df(spark, edges, weights), directed=False)
    g2, mapping, _ = locality_relabel(g)
    assert set(g2.edges.columns) == {"src", "dst", "weight"}
    assert g2.edges.agg(F.sum("weight")).first()[0] == g.edges.agg(
        F.sum("weight")
    ).first()[0]
    release_state(mapping)


def test_align_span_bin_packing(spark):
    """Heterogeneous cluster sizes + align_span: ids stay unique, every
    cluster no larger than the span lands inside ONE span-aligned bin, and
    the blocked peel with block_span=align_span is exact on the padded
    (sparse) id space."""
    rng = random.Random(11)
    sizes = [5, 7, 6, 4, 9, 3, 8, 6, 5, 7]
    ids = list(range(sum(sizes)))
    rng.shuffle(ids)
    edges, members, off = [], [], 0
    for s in sizes:
        mem = ids[off : off + s]
        off += s
        members.append(mem)
        edges += [(a, b) for i, a in enumerate(mem) for b in mem[i + 1:]]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    span = 8
    g2, mapping, _ = locality_relabel(g, align_span=span)
    m = {r["orig"]: r["id"] for r in mapping.collect()}
    vals = sorted(m.values())
    assert len(vals) == len(set(vals)) == sum(sizes)
    assert vals[-1] < 2 * sum(sizes)  # bounded inflation
    for s, mem in zip(sizes, members):
        bins = {m[v] // span for v in mem}
        assert s > span or len(bins) == 1, (s, bins)

    ref, _ = kcore(g, mode="peel", local_cascade=False)
    kc, st = kcore(g2, mode="peel", block_span=span, local_finish_vertices=0,
                   local_finish_edges=0)
    back = (
        kc.join(mapping.withColumnRenamed("id", "nid"), kc.id == F.col("nid"))
        .select(F.col("orig").alias("id"), "coreness")
    )
    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, back.collect()))
    for df in (ref, kc, mapping):
        release_state(df)
    # only the one size-9 cluster can straddle its bin boundary
    assert st.local_edge_frac > 0.9


def test_corpus_ingest_is_natively_local(spark):
    """The corpus ingest assigns dense ids ordered by (repo, path)
    (sources/ingest.py), so repo-clustered dependency graphs arrive
    ALREADY locality-laid-out for blocked kernels — no relabel needed.
    Measured here: in-block edge fraction ~0.81 at 8 blocks over the
    small synth corpus (scrambled expectation would be ~1/8)."""
    from tcr_kcore_spark.sources.corpus import synth_corpus
    from tcr_kcore_spark.sources.ingest import corpus_to_edges

    edges, files = corpus_to_edges(synth_corpus(spark, "small"))
    g = LinkGraph.from_edges(edges, directed=False)
    out, st = kcore(g, mode="peel", n_blocks=8, local_finish_vertices=0,
                    local_finish_edges=0, max_iter=1)
    for df in (out, edges, files):
        release_state(df)
    assert st.local_edge_frac >= 0.5, st.local_edge_frac


def test_suggest_align_span(spark):
    from tcr_kcore_spark.plans.layout import suggest_align_span

    labels = spark.createDataFrame(
        [(i, i // 10) for i in range(100)], "id long, lbl long"
    )  # 10 clusters of 10
    s = suggest_align_span(labels, n_blocks_target=5)
    assert s["vertices"] == 100 and s["max_cluster"] == 10
    # span = max(p99 size=10, ceil(100/5)=20) = 20
    assert s["span"] == 20
    s2 = suggest_align_span(labels, n_blocks_target=50)
    assert s2["span"] == 10  # p99 dominates when the target is fine-grained


@pytest.mark.parametrize(
    "sizes",
    [
        [8, 8, 8],            # clusters exactly == span: zero padding
        [20, 3, 3, 3],        # one giant (> 2x span) + small fill
        [1] * 17,             # many singletons: pure first-fit packing
        [7, 2, 7, 2, 7, 2],   # alternating near-full + fill
    ],
)
def test_align_span_edge_shapes(spark, sizes):
    span = 8
    ids = list(range(sum(sizes)))
    rng = random.Random(5)
    rng.shuffle(ids)
    edges, members, off = [], [], 0
    for s in sizes:
        mem = ids[off : off + s]
        off += s
        members.append(mem)
        if s == 1:  # self-contained vertex: give it a self-ish edge partner
            continue
        edges += [(mem[0], b) for b in mem[1:]]
    # connect singletons pairwise so they appear in the edge table
    singles = [m[0] for m, s in zip(members, sizes) if s == 1]
    edges += [(a, b) for a, b in zip(singles[::2], singles[1::2])]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    g2, mapping, _ = locality_relabel(g, align_span=span)
    m = {r["orig"]: r["id"] for r in mapping.collect()}
    vals = sorted(m.values())
    V = g.vertices().count()
    assert len(vals) == len(set(vals)) == V
    # inflation bound: < 2x from packing + one span per range partition
    # (the 8-partition test session), see the align_span docstring
    assert vals[-1] < 2 * V + 8 * span
    # alignment invariant: clusters (components here) <= span stay in one bin
    from tcr_kcore_spark.operators.components import connected_components

    comp, _ = connected_components(g)
    groups = {}
    for r in comp.collect():
        groups.setdefault(r["component"], []).append(r["id"])
    release_state(comp)
    release_state(mapping)
    for mem in groups.values():
        bins = {m[v] // span for v in mem}
        assert len(mem) > span or len(bins) == 1, (len(mem), bins)
