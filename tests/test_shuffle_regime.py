"""The non-broadcast ("shuffle") superstep regime must produce bit-identical
results to the broadcast regime — it is the same logical plan with a
different physical strategy (src-partitioned cached edges + V-row state
exchange instead of a state broadcast).  Forced via
$SPARK_GRAFT_BROADCAST_MAX_ROWS=0 (plans.partitioning.broadcast_max_rows).

Also covers the hub-skew formulation of the h-index round and the LPA mode:
a planted 70k-degree hub must not change results (and must not require a
degree-length sort in any single task — the distinct-value aggregation
compresses the hub's messages to one row per distinct estimate).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators import (
    bfs,
    connected_components,
    hits,
    kcore,
    label_propagation,
    pagerank,
    scc,
    sssp,
)

from tests.conftest import edges_df
from tests.test_scc import tarjan_scc_ids


@pytest.fixture()
def force_shuffle_regime():
    os.environ["SPARK_GRAFT_BROADCAST_MAX_ROWS"] = "0"
    yield
    del os.environ["SPARK_GRAFT_BROADCAST_MAX_ROWS"]


def _test_graph(spark):
    # two communities + a bridge + a pendant path: exercises frontiers,
    # unequal degrees, multiple coreness levels
    edges = [
        (0, 1), (0, 2), (1, 2), (2, 3), (3, 4), (3, 5), (4, 5),
        (5, 6), (6, 7), (7, 8), (0, 9), (9, 10),
    ]
    return LinkGraph.from_edges(edges_df(spark, edges), directed=False)


def _collect(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_shuffle_regime_matches_broadcast(spark, force_shuffle_regime):
    g = _test_graph(spark)
    pr, _ = pagerank(g, tol=1e-9, max_iter=60)
    kc, _ = kcore(g, mode="hindex")
    cc, _ = connected_components(g)
    lp, _ = label_propagation(g, rounds=2)
    d, _ = bfs(g, source=0)
    got = {
        "pagerank": _collect(pr.select("id", F.round("rank", 8).alias("r")), ["id", "r"]),
        "kcore": _collect(kc, ["id", "coreness"]),
        "cc": _collect(cc, ["id", "component"]),
        "lpa": _collect(lp, ["id", "label"]),
        "bfs": _collect(d, ["id", "distance"]),
    }

    del os.environ["SPARK_GRAFT_BROADCAST_MAX_ROWS"]
    g2 = _test_graph(spark)
    pr2, _ = pagerank(g2, tol=1e-9, max_iter=60)
    kc2, _ = kcore(g2, mode="hindex")
    cc2, _ = connected_components(g2)
    lp2, _ = label_propagation(g2, rounds=2)
    d2, _ = bfs(g2, source=0)
    assert got["pagerank"] == _collect(
        pr2.select("id", F.round("rank", 8).alias("r")), ["id", "r"]
    )
    assert got["kcore"] == _collect(kc2, ["id", "coreness"])
    assert got["cc"] == _collect(cc2, ["id", "component"])
    assert got["lpa"] == _collect(lp2, ["id", "label"])
    assert got["bfs"] == _collect(d2, ["id", "distance"])
    os.environ["SPARK_GRAFT_BROADCAST_MAX_ROWS"] = "0"  # fixture teardown


def test_shuffle_regime_sssp_hits(spark, force_shuffle_regime):
    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    weights = [1.0, 1.0, 5.0, 2.0]
    g = LinkGraph(edges_df(spark, edges, weights), directed=True)
    d, _ = sssp(g, source=0)
    assert {r["id"]: r["distance"] for r in d.collect()} == {
        0: 0.0,
        1: 1.0,
        2: 2.0,
        3: 4.0,
    }
    h, _ = hits(g, max_iter=10)
    rows = {r["id"]: (r["hub"], r["auth"]) for r in h.collect()}
    assert len(rows) == 4 and all(v[0] >= 0 for v in rows.values())


def test_planted_hub_kcore_lpa(spark):
    # star with 70k leaves glued to a K4 clique: exact coreness is 1 for
    # the leaves and 3 for all four clique members (the hub included — its
    # 70k degree does not raise its coreness).  The hub's h-round messages
    # compress to two distinct estimate values, so no task ever sorts a
    # degree-length list.
    n = 70_000  # above _HUB_WINDOW_MAX_DEG -> operator picks the hub-safe path
    leaves = [(0, i) for i in range(10, 10 + n)]
    clique = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)]
    g = LinkGraph.from_edges(edges_df(spark, leaves + clique), directed=False)
    kc, st = kcore(g, mode="hindex")
    got = {r["id"]: r["coreness"] for r in kc.collect()}
    assert got[0] == 3 and got[1] == got[2] == got[3] == 3
    assert all(got[i] == 1 for i in range(10, 20))
    lp, _ = label_propagation(g, rounds=2)
    assert lp.count() == n + 4


def test_shuffle_regime_scc_matches_broadcast(spark, force_shuffle_regime):
    """scc's joint (id, dir) fixpoint in both regimes: equal labels and
    equal round structure on a graph with self-loops, multi-edges, a DAG
    tail, two nontrivial SCCs, ids past int32 and one id near 2^62 (the
    direction is a key column, never packed into the id)."""
    b, h = 2**31, 2**62 - 3
    edges = [
        (b, b + 1), (b, b + 1), (b + 1, b + 2), (b + 2, b), (b + 1, b + 1),
        (b + 2, b + 5), (b + 5, b + 6), (b + 6, h), (h, b + 5), (h, h),
        (7, b), (b + 6, 10), (10, 11), (11, 12), (11, 13), (12, 13), (12, 12),
    ]
    verts = {v for e in edges for v in e}
    expect = tarjan_scc_ids(edges, verts)
    assert {expect[b + 1], expect[h]} == {b, b + 5}

    def run():
        out, st = scc(LinkGraph(edges_df(spark, edges), directed=True))
        return {r["id"]: r["scc_id"] for r in out.collect()}, st

    got, st = run()
    del os.environ["SPARK_GRAFT_BROADCAST_MAX_ROWS"]
    got2, st2 = run()
    os.environ["SPARK_GRAFT_BROADCAST_MAX_ROWS"] = "0"  # fixture teardown
    assert got == got2 == expect
    assert (st.supersteps, st.outer_rounds) == (st2.supersteps, st2.outer_rounds)
