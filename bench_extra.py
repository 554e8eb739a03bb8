"""Phase-instrumented headline measurements for the optimization rounds
(guide §1: measure first; §1.4: noop-sink isolation).  NOT the frozen
driver bench — bench.py stays the measured artifact; this file exists so
OPTIMIZATION_r*.md can cite where inside each cell the time actually goes
(setup actions vs per-superstep cost vs final action).

Usage:
    python bench_extra.py [cell ...]     # default: all headline cells

Prints one JSON line per cell with a phase breakdown.  Fresh JVM per cell
(same protocol as bench.py: heap/GC contamination makes a shared session
1.5-5x slower by the Nth job).
"""

from __future__ import annotations

import json
import os
import sys
import time

from bench import _build, _session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def cell_build(spark):
    from pyspark.sql import functions as F

    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.sources.relational import cooccurrence_edges

    t0 = time.time()
    e = cooccurrence_edges(spark, SF_DIR)
    g = LinkGraph(e, directed=False)
    n_edges = g.materialize()
    t1 = time.time()
    n_verts = g.vertices().count()
    t2 = time.time()
    return {
        "edges_cache_count": round(t1 - t0, 3),
        "vertices_count": round(t2 - t1, 3),
        "edges": n_edges,
        "vertices": n_verts,
    }


def cell_pagerank(spark, g):
    from tcr_kcore_spark.operators import pagerank

    t0 = time.time()
    pr, st = pagerank(g, tol=1e-6, max_iter=100, truncate_every=2)
    t1 = time.time()
    pr.count()
    t2 = time.time()
    return {
        "to_state": round(t1 - t0, 3),
        "final_count": round(t2 - t1, 3),
        "supersteps": st.supersteps,
        "step_history": st.history,
        "setup_secs": round(st.wall_secs and (t1 - t0) - sum(st.history), 3),
    }


def cell_kcore(spark, g):
    from tcr_kcore_spark.operators import kcore

    t0 = time.time()
    kc, st = kcore(g, mode="hindex")
    t1 = time.time()
    kc.count()
    t2 = time.time()
    return {
        "to_state": round(t1 - t0, 3),
        "final_count": round(t2 - t1, 3),
        "supersteps": st.supersteps,
        "step_history": st.history,
        "setup_secs": round((t1 - t0) - sum(st.history), 3),
        "local_finish_secs": st.local_finish_secs,
    }


def cell_components(spark, g):
    from tcr_kcore_spark.operators import connected_components

    t0 = time.time()
    cc, st = connected_components(g, mode="hashmin")
    t1 = time.time()
    cc.count()
    t2 = time.time()
    return {
        "to_state": round(t1 - t0, 3),
        "final_count": round(t2 - t1, 3),
        "supersteps": st.supersteps,
        "step_history": st.history,
        "setup_secs": round((t1 - t0) - sum(st.history), 3),
    }


def cell_bfs(spark, g):
    from pyspark.sql import functions as F

    from tcr_kcore_spark.operators import bfs

    t0 = time.time()
    src = g.edges.agg(F.min("src")).first()[0]
    t1 = time.time()
    d, st = bfs(g, source=int(src))
    t2 = time.time()
    d.count()
    t3 = time.time()
    return {
        "min_src": round(t1 - t0, 3),
        "to_state": round(t2 - t1, 3),
        "final_count": round(t3 - t2, 3),
        "supersteps": st.supersteps,
        "step_history": st.history,
        "setup_secs": round((t2 - t1) - sum(st.history), 3),
    }


def cell_lpa(spark, g):
    from tcr_kcore_spark.operators import label_propagation

    t0 = time.time()
    lab, st = label_propagation(g, rounds=2)
    t1 = time.time()
    lab.count()
    t2 = time.time()
    return {
        "to_state": round(t1 - t0, 3),
        "final_count": round(t2 - t1, 3),
        "step_history": st.history,
        "setup_secs": round((t1 - t0) - sum(st.history), 3),
    }


def cell_triangles(spark, g):
    """One triangles_per_vertex call, and the regime it ran in."""
    from tcr_kcore_spark.operators.triangles import triangles_per_vertex

    t0 = time.time()
    out = triangles_per_vertex(g)
    t1 = time.time()
    n = out.count()
    t2 = time.time()
    return {
        "regime": out.regime,
        "to_result": round(t1 - t0, 3),
        "final_count": round(t2 - t1, 3),
        "vertices": n,
    }


CELLS = {
    "build_graph": None,
    "pagerank_conv": cell_pagerank,
    "components": cell_components,
    "kcore": cell_kcore,
    "triangles": cell_triangles,
    "bfs": cell_bfs,
    "lpa_r2": cell_lpa,
}


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")] or list(CELLS)
    for name in names:
        spark = _session(CPUS, f"bench_extra_{name}")
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if CELLS[name] is None:
            out = cell_build(spark)
        else:
            g, _ = _build(spark, SF_DIR)
            t0 = time.time()
            out = CELLS[name](spark, g)
            out["cell_total"] = round(time.time() - t0, 3)
        spark.stop()
        print(json.dumps({"cell": name, "phases": out}), flush=True)


if __name__ == "__main__":
    main()
