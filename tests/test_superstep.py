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


def test_vertex_program_job_budgets(spark, monkeypatch):
    """Spark jobs per call (the call plus one count of its result, counted
    with ``setJobGroup``/``getJobIdsForGroup``) on the 80-vertex ER graph,
    in the distributed broadcast regime (the driver-local one is off: its
    budget is pinned in ``test_kcore.py``).

    The calls run in this order on one materialized graph, which owns its
    vertex set (counted once), out-degree table and superstep layouts:
    pagerank, the first call, builds them (its count is the only counting
    job of the vertex set), and the later calls read them instead of
    persisting, counting and partitioning their own.  Before → after
    graph-owned tables: pagerank 19 → 21 (the first call builds the
    shared tables; the out-degree cache materializes as its own job),
    personalized_pagerank 23 → 19 (→ 17 once a seed list was counted
    with ``len`` instead of a Spark count),
    components 23 → 17, bfs 23 → 17, sssp 23 → 19 (its weighted edges
    stay per call), lpa 17 → 11, hits (3 steps) 47 → 47, louvain_phase1
    (3 rounds) 54 → 50."""
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

    monkeypatch.setattr("tcr_kcore_spark.plans.partitioning.LOCAL_MAX_ENTRIES", 0)
    spark.catalog.clearCache()  # a leaked identical plan would hide jobs
    g = LinkGraph.from_edges(
        edges_df(spark, oracles.er_graph(n=80, avg_deg=6, seed=11)), directed=False
    )
    g.materialize()
    d = LinkGraph(g.edges, directed=True)
    sc = spark.sparkContext

    def jobs(name, run):
        # job groups are session-wide: a bare operator name would count the
        # jobs other tests ran under it
        group = f"vertex_program_job_budgets_{name}"
        sc.setJobGroup(group, group)
        try:
            out, _ = run()
            out.count()
            n = len(sc.statusTracker().getJobIdsForGroup(group))
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
    assert got == {
        "pagerank": 21, "ppr": 17, "components": 17, "bfs": 17, "sssp": 19, "lpa": 11,
        "hits": 47, "louvain": 50,
    }, got


def test_shared_layout_no_edge_shuffle(spark, monkeypatch):
    """Once one operator has run on a materialized graph, bfs, lpa and
    pagerank read its cached superstep layout: no stage of theirs writes an
    E-row shuffle (per-stage shuffle records from Spark's status store).
    The driver-local regime, which reads no layout, is off."""
    from py4j.protocol import Py4JJavaError

    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.operators import bfs, connected_components, label_propagation, pagerank
    from tcr_kcore_spark.superstep import release_state
    from tests import oracles
    from tests.conftest import edges_df

    monkeypatch.setattr("tcr_kcore_spark.plans.partitioning.LOCAL_MAX_ENTRIES", 0)
    spark.catalog.clearCache()
    g = LinkGraph.from_edges(
        edges_df(spark, oracles.er_graph(n=60, avg_deg=40, seed=3)), directed=False
    )
    n_edges = g.materialize()
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def max_stage_shuffle_records(name, run):
        group = f"shared_layout_no_edge_shuffle_{name}"  # unique per test
        sc.setJobGroup(group, group)
        try:
            out, _ = run()
            out.count()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        release_state(out)
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        stages = {s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds}
        return max(written(s) for s in stages)

    def written(stage: int) -> int:
        try:
            return store.lastStageAttempt(stage).shuffleWriteRecords()
        except Py4JJavaError:
            # past spark.ui.retainedStages the store drops skipped stages
            # first (they ran nothing); this call's run stages are newest
            return 0

    # the first call builds the layout: one E-row exchange
    assert max_stage_shuffle_records("components", lambda: connected_components(g)) >= n_edges
    got = {
        "bfs": max_stage_shuffle_records("bfs", lambda: bfs(g, source=0)),
        "lpa": max_stage_shuffle_records("lpa", lambda: label_propagation(g, rounds=2)),
        "pagerank": max_stage_shuffle_records(
            "pagerank", lambda: pagerank(g, tol=-1.0, max_iter=3)
        ),
    }
    g.unpersist()
    # a V-row or map-side-combined stage writes at most partitions × V
    # records (480 here: pagerank's build of the shared out-degree table)
    assert all(r < n_edges // 2 for r in got.values()), (n_edges, got)
