"""Capture .explain("formatted") for the engine's query paths.

Usage: python scripts/capture_plans.py before|after [unit ...]

Writes plans/r06/<unit>_<suffix>.txt.  For iterative operators the
returned frame is a truncated (bare-scan) frame, so the meaningful plan
is ONE superstep's lazy plan — captured by running the operator for one
superstep with truncate_lineage hooked.  To compare two commits, run the
same script in a checkout of each and diff the files with the ``#<n>``
expression ids stripped.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")


def _explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _graph(spark):
    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.sources.relational import cooccurrence_edges

    g = LinkGraph(cooccurrence_edges(spark, SF_DIR), directed=False)
    g.materialize()
    return g


def plan_edges_cooccur(spark):
    from tcr_kcore_spark.sources.relational import cooccurrence_edges

    return _explain_str(cooccurrence_edges(spark, SF_DIR))


def plan_vertices(spark):
    return _explain_str(_graph(spark).vertices())


def plan_kcore_hindex_round(spark):
    """The distributed h-index step (the local finish is off)."""
    from tcr_kcore_spark.operators import kcore

    g = _graph(spark)
    return _capture_operator_step(
        spark, lambda: kcore(g, local_finish_vertices=0, max_iter=1)
    )


def plan_kcore_exact(spark):
    """Top-level plan of the kcore(mode=hindex) result (post-materialize
    scan) plus, when the local fast path is active, the local-kernel plan."""
    from tcr_kcore_spark.operators import kcore

    g = _graph(spark)
    r, st = kcore(g, mode="hindex")
    return (
        f"# supersteps={st.supersteps} local_finish_secs={st.local_finish_secs}\n"
        + _explain_str(r)
    )


def _capture_operator_step(spark, run):
    """One superstep's plan as the OPERATOR builds it: hook
    truncate_lineage, run the 1-step call `run` with the driver-local
    regime off (its entry cap 0, so the distributed superstep runs),
    return the last captured plan (the step's; an operator that truncates
    its init state captures that first)."""
    import tcr_kcore_spark.plans.partitioning as pp
    import tcr_kcore_spark.superstep as ss

    plans = []
    orig, cap = ss.truncate_lineage, pp.LOCAL_MAX_ENTRIES

    def capture(df):
        plans.append(_explain_str(df))
        return orig(df)

    ss.truncate_lineage = capture
    pp.LOCAL_MAX_ENTRIES = 0
    try:
        run()
    finally:
        ss.truncate_lineage = orig
        pp.LOCAL_MAX_ENTRIES = cap
    return plans[-1]


def plan_pagerank_step(spark):
    from tcr_kcore_spark.operators import pagerank

    g = _graph(spark)
    return _capture_operator_step(spark, lambda: pagerank(g, tol=-1.0, max_iter=1))


def plan_personalized_pagerank_step(spark):
    from pyspark.sql import functions as F

    from tcr_kcore_spark.operators import personalized_pagerank

    g = _graph(spark)
    src = int(g.edges.agg(F.min("src")).first()[0])
    return _capture_operator_step(
        spark, lambda: personalized_pagerank(g, seeds=[src], max_iter=1)
    )


def plan_components_step(spark):
    from tcr_kcore_spark.operators import connected_components

    g = _graph(spark)
    return _capture_operator_step(
        spark, lambda: connected_components(g, mode="hashmin", max_iter=1)
    )


def plan_bfs_step(spark):
    from pyspark.sql import functions as F

    from tcr_kcore_spark.operators import bfs

    g = _graph(spark)
    src = int(g.edges.agg(F.min("src")).first()[0])
    return _capture_operator_step(spark, lambda: bfs(g, source=src, max_iter=1))


def plan_sssp_step(spark):
    from pyspark.sql import functions as F

    from tcr_kcore_spark.operators import sssp

    g = _graph(spark)
    src = int(g.edges.agg(F.min("src")).first()[0])
    return _capture_operator_step(spark, lambda: sssp(g, source=src, max_iter=1))


def plan_hits_step(spark):
    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.operators import hits

    g = _graph(spark)
    d = LinkGraph(g.edges, directed=True)
    return _capture_operator_step(spark, lambda: hits(d, max_iter=1, tol=-1.0))


def plan_louvain_phase1_round(spark):
    from tcr_kcore_spark.operators import louvain_phase1

    g = _graph(spark)
    return _capture_operator_step(spark, lambda: louvain_phase1(g, max_rounds=1))


def plan_lpa_round(spark):
    from tcr_kcore_spark.operators import label_propagation

    g = _graph(spark)
    return _capture_operator_step(spark, lambda: label_propagation(g, rounds=1))


def plan_triangles(spark):
    """The distributed triangle plan as the operator builds it (the local
    regime is bypassed): the lazy zero-filled per-vertex frame that
    ``_triangles_distributed`` materializes."""
    from tcr_kcore_spark.operators.triangles import _triangles_distributed

    g = _graph(spark)
    return _capture_operator_step(spark, lambda: _triangles_distributed(g))


def plan_ktruss_support(spark):
    """The ``edge_support`` plan ktruss builds in its first round (over the
    truncated canonical edges, int32 narrowing decided by ktruss)."""
    from tcr_kcore_spark.operators import triangles

    g = _graph(spark)
    plans = []
    orig = triangles.edge_support

    def capture(*args, **kwargs):
        out = orig(*args, **kwargs)
        plans.append(_explain_str(out))
        return out

    triangles.edge_support = capture
    try:
        triangles.ktruss(g, 12, max_iter=1)
    finally:
        triangles.edge_support = orig
    return plans[0]


UNITS = {
    "edges_cooccur": plan_edges_cooccur,
    "vertices": plan_vertices,
    "kcore_hindex_round": plan_kcore_hindex_round,
    "kcore_exact": plan_kcore_exact,
    "pagerank_step": plan_pagerank_step,
    "personalized_pagerank_step": plan_personalized_pagerank_step,
    "components_step": plan_components_step,
    "bfs_step": plan_bfs_step,
    "sssp_step": plan_sssp_step,
    "lpa_round": plan_lpa_round,
    "hits_step": plan_hits_step,
    "louvain_phase1_round": plan_louvain_phase1_round,
    "triangles": plan_triangles,
    "ktruss_support": plan_ktruss_support,
}


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:] or list(UNITS)
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = _session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), f"plans_{suffix}")
    for name in names:
        try:
            text = UNITS[name](spark)
        except Exception as exc:  # capture what we can, keep going
            text = f"ERROR capturing {name}: {exc!r}\n"
        # each unit builds its own graph: drop the last unit's caches, so no
        # unit plans over a table an earlier one materialized
        spark.catalog.clearCache()
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
