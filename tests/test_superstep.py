"""Superstep helpers: bounded waits."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from tcr_kcore_spark.superstep import ObservedConvergence


def test_observed_convergence_take_reads_a_run_frame(spark):
    oc = ObservedConvergence()
    df = oc.attach(spark.range(10), F.sum("id").alias("n"))
    assert df.count() == 10
    assert oc.take() == {"n": 45}
    assert oc.take() is None  # nothing attached since


def test_observed_convergence_take_raises_on_unrun_frame(spark):
    oc = ObservedConvergence()
    oc.attach(spark.range(10), F.sum("id").alias("n"))  # never materialized
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="step 1 never ran"):
        oc.take()
    assert time.monotonic() - t0 < 30


def _persistent_ids(spark) -> set:
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())


def test_run_supersteps_error_exits_release_state(spark, tmp_path, monkeypatch):
    """A raise from a step, a convergence check or a checkpoint write
    releases the loop's live truncated states before it propagates."""
    from tcr_kcore_spark import superstep
    from tcr_kcore_spark.superstep import run_supersteps

    def step(state, i):
        if i == 2:
            raise RuntimeError("step failed")
        return state.select("id", (F.col("x") + 1).alias("x"))

    def converged(prev, new, i):
        if i == 2:
            raise RuntimeError("check failed")
        return False

    def write(*args):
        raise RuntimeError("write failed")

    init = spark.range(20).select("id", F.lit(0).alias("x"))
    base = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="step failed"):
        run_supersteps(init, step, max_iter=5)
    with pytest.raises(RuntimeError, match="check failed"):
        run_supersteps(init, lambda s, i: s, converged, max_iter=5)
    with pytest.raises(RuntimeError, match="check failed"):
        run_supersteps(init, lambda s, i: s, converged, max_iter=5, truncate_every=2)
    monkeypatch.setattr(superstep, "_write_checkpoint", write)
    with pytest.raises(RuntimeError, match="write failed"):
        run_supersteps(
            init, lambda s, i: s, max_iter=5, checkpoint_dir=str(tmp_path), checkpoint_every=1
        )
    assert _persistent_ids(spark) - base == set()


def test_vertex_program_job_budgets(spark):
    """Spark jobs per call (the call plus one count of its result, counted
    with ``setJobGroup``/``getJobIdsForGroup``) on the 80-vertex ER graph.

    The operators on ``vertex_program`` keep their parent's job counts,
    except hits and louvain_phase1, whose halting scalar now rides the
    state's materialization job instead of a separate job per superstep.
    Before → after the helper: pagerank 19 → 19, personalized_pagerank
    23 → 23, components 23 → 23, bfs 23 → 23, sssp 23 → 23, lpa 17 → 17,
    hits (3 steps) 53 → 47, louvain_phase1 (3 rounds) 60 → 54."""
    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.operators import (
        bfs,
        connected_components,
        hits,
        label_propagation,
        louvain_phase1,
        pagerank,
        personalized_pagerank,
        sssp,
    )
    from tcr_kcore_spark.superstep import release_state
    from tests import oracles
    from tests.conftest import edges_df

    spark.catalog.clearCache()  # a leaked identical plan would hide jobs
    g = LinkGraph.from_edges(
        edges_df(spark, oracles.er_graph(n=80, avg_deg=6, seed=11)), directed=False
    )
    g.materialize()
    d = LinkGraph(g.edges, directed=True)
    sc = spark.sparkContext

    def jobs(name, run):
        sc.setJobGroup(name, name)
        try:
            out, _ = run()
            out.count()
            n = len(sc.statusTracker().getJobIdsForGroup(name))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        release_state(out)
        return n

    got = {
        "pagerank": jobs("pagerank", lambda: pagerank(g, tol=-1.0, max_iter=3)),
        "ppr": jobs("ppr", lambda: personalized_pagerank(g, seeds=[0, 1], max_iter=3)),
        "components": jobs("components", lambda: connected_components(g)),
        "bfs": jobs("bfs", lambda: bfs(g, source=0)),
        "sssp": jobs("sssp", lambda: sssp(g, source=0)),
        "lpa": jobs("lpa", lambda: label_propagation(g, rounds=3)),
        "hits": jobs("hits", lambda: hits(d, max_iter=3, tol=-1.0)),
        "louvain": jobs(
            "louvain", lambda: louvain_phase1(g, max_rounds=3, gain_threshold=1e-9)
        ),
    }
    g.unpersist()
    same = {k: got[k] for k in ("pagerank", "ppr", "components", "bfs", "sssp", "lpa")}
    assert same == {
        "pagerank": 19, "ppr": 23, "components": 23, "bfs": 23, "sssp": 23, "lpa": 17
    }, got
    assert got["hits"] < 53 and got["louvain"] < 60, got
