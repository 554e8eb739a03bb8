from __future__ import annotations

import pytest

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators import kcore, kcore_hindex_rounds
from tcr_kcore_spark.superstep import release_state
from tests import oracles
from tests.conftest import edges_df


def _coreness(df) -> dict:
    """``{id: coreness}`` of a kcore result, which is then released: a
    result left cached is freed by the context cleaner at some later GC,
    possibly in the middle of a test that counts persistent RDDs."""
    got = {r["id"]: r["coreness"] for r in df.collect()}
    release_state(df)
    return got


@pytest.mark.parametrize("mode", ["hindex", "peel"])
def test_triangle_tail(spark, mode):
    # FIXTURES F3.1: coreness [2,2,2,1]
    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, stats = kcore(g, mode=mode)
    got = _coreness(result)
    assert got == {0: 2, 1: 2, 2: 2, 3: 1}


@pytest.mark.parametrize("mode", ["hindex", "peel"])
def test_star(spark, mode):
    edges = [(0, i) for i in range(1, 6)]
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, _ = kcore(g, mode=mode)
    got = _coreness(result)
    assert got == {v: 1 for v in range(6)}


@pytest.mark.parametrize(
    "mode,lfv,cascade",
    [
        ("hindex", 0, True),
        ("peel", 0, True),
        ("peel", 0, False),
        ("peel", 100_000, True),
    ],
)
def test_er_graph_vs_bz_oracle(spark, mode, lfv, cascade):
    # lfv=0 forces the pure distributed peel rounds (hybrid cascade and
    # legacy one-level-per-round both); lfv=100k routes through the
    # phase-2 single-task BZ finisher — all must match the oracle
    edges = oracles.er_graph(n=250, avg_deg=8)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, _ = kcore(
        g, mode=mode, local_finish_vertices=lfv, local_cascade=cascade
    )
    got = _coreness(result)
    want = oracles.coreness(edges)
    assert got == want


def test_cascade_hub_graph_vs_bz_oracle(spark):
    """Hybrid cascade on a Zipf hub graph with few blocks — hub vertices
    concentrate boundary decrements onto single targets; result must
    still equal the serial BZ oracle exactly."""
    edges = oracles.zipf_hub_graph(n=300, m=2000, seed=7)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, st = kcore(g, mode="peel", local_finish_vertices=0, n_blocks=4)
    got = _coreness(result)
    assert got == oracles.coreness(edges)


def test_cascade_closed_blocks_single_activation(spark):
    """Two disjoint ER copies on contiguous id ranges aligned with the
    block split: each block is CLOSED (no external adjacency), so its
    single activation runs full BZ locally — total rounds bounded by the
    number of distinct per-block min-degree levels (2 here), a collapse
    from the ~15 cascade rounds the legacy peel needs.  The layout's
    in-block fraction (≥ 0.9) defers the adaptive controller's first
    legacy probe past round 4, so the round count is not timing-dependent."""
    e1 = oracles.er_graph(n=250, avg_deg=8)
    e2 = [(a + 250, b + 250) for a, b in oracles.er_graph(n=250, avg_deg=8, seed=9)]
    edges = e1 + e2
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, st = kcore(g, mode="peel", local_finish_vertices=0, n_blocks=2)
    got = _coreness(result)
    assert got == oracles.coreness(edges)
    assert st.supersteps <= 2, st.supersteps


def test_cascade_boundary_chain(spark):
    """A path graph laid across 4 blocks: the level-1 cascade must cross
    block boundaries via emitted decrements (each crossing costs one
    global round), and every vertex still resolves to coreness 1 in a
    handful of rounds — not the ~V/2 the legacy peel pays.  The in-block
    fraction (≥ 0.9) defers the first legacy probe past round 4, so the
    run is pure cascade."""
    n = 41
    path = [(i, i + 1) for i in range(n - 1)]
    g = LinkGraph.from_edges(edges_df(spark, path), directed=False)
    result, st = kcore(g, mode="peel", local_finish_vertices=0, n_blocks=4)
    got = _coreness(result)
    assert got == {i: 1 for i in range(n)}
    assert st.supersteps <= 6, st.supersteps
    assert st.cascade_rounds == st.supersteps


def test_adaptive_probe_mixed_rounds(spark):
    """Default adaptive hybrid on a deep path: the controller starts in
    cascade mode, probes a legacy round after the backoff elapses, and
    the mixed cascade/legacy round sequence still produces exact
    coreness.  Round counts are NOT pinned (mode choice is measured
    throughput, i.e. timing) — only correctness and the mix telemetry."""
    n = 61
    path = [(i, i + 1) for i in range(n - 1)]
    g = LinkGraph.from_edges(edges_df(spark, path), directed=False)
    result, st = kcore(g, mode="peel", local_finish_vertices=0, n_blocks=4)
    got = _coreness(result)
    assert got == {i: 1 for i in range(n)}
    assert 1 <= st.cascade_rounds <= st.supersteps
    assert st.supersteps <= n  # never worse than pure legacy's ~V/2 + slack


def test_layout_prior_seeds_round_type(spark):
    """The measured in-block edge fraction seeds the starting round type
    deterministically (max_iter=1 isolates round 1 from the
    timing-dependent probe schedule): an aligned two-copy layout reads
    frac ≈ 1 and opens with a cascade round; the same graph with ids
    scrambled across 4 blocks reads frac ≈ 0.25 and opens legacy — the
    misaligned layout never pays the old blind round-1 cascade."""
    e1 = oracles.er_graph(n=250, avg_deg=8)
    e2 = [(a + 250, b + 250) for a, b in oracles.er_graph(n=250, avg_deg=8, seed=9)]
    edges = e1 + e2
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    out, st = kcore(g, mode="peel", local_finish_vertices=0, n_blocks=2, max_iter=1)
    release_state(out)
    assert st.local_edge_frac >= 0.9, st.local_edge_frac
    assert st.cascade_rounds == 1, (st.cascade_rounds, st.supersteps)

    scrambled = [((a * 7919) % 500, (b * 7919) % 500) for a, b in edges]
    g2 = LinkGraph.from_edges(edges_df(spark, scrambled), directed=False)
    out, st2 = kcore(g2, mode="peel", local_finish_vertices=0, n_blocks=4, max_iter=1)
    release_state(out)
    assert st2.local_edge_frac < 0.5, st2.local_edge_frac
    assert st2.cascade_rounds == 0, (st2.cascade_rounds, st2.supersteps)


def test_sampled_cascade_probe_correct(spark):
    """With many blocks and a scrambled (low-frac) layout, cascade probe
    rounds run on a ~1/8 SAMPLE of the active blocks — peeling a block
    subset at the current k is confluent, so exactness must hold through
    the mixed sampled-cascade/legacy round sequence."""
    edges = oracles.er_graph(n=400, avg_deg=8, seed=11)
    scrambled = [((a * 7) % 400, (b * 7) % 400) for a, b in edges]
    g = LinkGraph.from_edges(edges_df(spark, scrambled), directed=False)
    result, st = kcore(g, mode="peel", local_finish_vertices=0, n_blocks=16)
    got = _coreness(result)
    assert got == oracles.coreness(scrambled)
    if st.supersteps >= 5:  # first cascade probe fires at round 5
        assert st.cascade_rounds >= 1


def test_cascade_checkpoint_resume(spark, tmp_path):
    """Hybrid-cascade peel interrupted mid-run resumes from the survivor
    degrees + coreness-so-far and matches the oracle."""
    edges = oracles.er_graph(n=300, avg_deg=10, seed=3)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    ck = str(tmp_path / "cascade_ck")
    partial, st1 = kcore(
        g, mode="peel", local_finish_vertices=0, n_blocks=4,
        checkpoint_dir=ck, checkpoint_every=3, max_iter=5,
    )
    assert st1.supersteps == 5
    release_state(partial)
    g2 = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    resumed, st2 = kcore(
        g2, mode="peel", local_finish_vertices=0, n_blocks=4,
        checkpoint_dir=ck, resume=True,
    )
    got = _coreness(resumed)
    assert got == oracles.coreness(edges)
    assert st2.resumed_from == 3


def test_peel_midway_edge_mass_handoff(spark):
    """Round-4 trigger: sum(deg) in the bounds action fires the BZ finisher
    MID-peel (k_floor > 0) once the residual edge mass drops under the cap
    — several distributed rounds first, then the single-task finish, and
    the composed result must still equal the oracle exactly."""
    edges = oracles.er_graph(n=250, avg_deg=8)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, stats = kcore(
        g, mode="peel", local_finish_vertices=10_000, local_finish_edges=800
    )
    got = _coreness(result)
    assert got == oracles.coreness(edges)
    # the handoff really was midway: distributed rounds ran AND the
    # finisher fired
    assert stats.supersteps >= 1 and stats.local_finish_secs > 0


@pytest.mark.parametrize("mode", ["hindex", "peel"])
def test_zipf_hubs(spark, mode):
    edges = oracles.zipf_hub_graph(n=500, m=2500)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, _ = kcore(g, mode=mode)
    got = _coreness(result)
    want = oracles.coreness(edges)
    assert got == want


def test_hindex_fixed_rounds_matches_oracle(spark):
    edges = oracles.er_graph(n=150, avg_deg=6, seed=9)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    for rounds in (1, 3):
        result = kcore_hindex_rounds(g, rounds)
        got = _coreness(result)
        want = oracles.hindex_rounds(edges, rounds)
        assert got == want, rounds


def test_peel_path_graph_output_folds_logarithmic(spark):
    """A path graph peels ~V/2 rounds; the peeled-output accumulator must
    fold on a doubling cadence — O(log rounds) consolidation jobs, not one
    write per round (VERDICT r1 finding #4)."""
    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.operators import kcore
    from tests.conftest import edges_df

    n = 120
    path = [(i, i + 1) for i in range(n - 1)]
    g = LinkGraph.from_edges(edges_df(spark, path), directed=False)
    # local_cascade=False: the legacy one-level-per-round peel is the shape
    # that produces ~V/2 rounds (the hybrid cascade collapses a path to a
    # handful of rounds, which can't exercise the fold cadence)
    out, stats = kcore(g, mode="peel", local_finish_vertices=0, local_cascade=False)
    rows = _coreness(out)
    assert rows == {i: 1 for i in range(n)}
    assert stats.supersteps >= n // 2 - 2
    import math

    assert stats.checkpoints <= math.ceil(math.log2(stats.supersteps)) + 2, (
        stats.checkpoints,
        stats.supersteps,
    )


@pytest.mark.parametrize("cascade", [False, True])
def test_peel_round_driver_action_budget(spark, cascade):
    """Each peel round issues TWO driver actions — the truncation job and
    ONE combined bounds aggregation (count+min+sum, or its per-block
    variant under the hybrid cascade); while the alive vertices fit the
    broadcast cap the legacy round runs no frontier count.  Counted by
    wrapping
    DataFrame.count/first/collect; raw Spark job ids cannot discriminate
    this because AQE splits one action into several jobs (broadcast/
    shuffle query stages).  ``stats.actions`` (the engine's own counter)
    must agree with the wrapped count up to the LinkGraph accessors the
    loop calls once at setup.  NOTE: the patch must target the RUNTIME
    DataFrame class (pyspark.sql.classic in Spark 4) — patching the
    public ``pyspark.sql.DataFrame`` base is a silent no-op because the
    classic subclass overrides these methods.  The path's in-block
    fraction (≥ 0.9) defers the adaptive controller's first legacy probe
    past round 4, so the cascade run stays pure cascade."""
    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.operators import kcore
    from tests.conftest import edges_df

    n = 80
    path = [(i, i + 1) for i in range(n - 1)]
    g = LinkGraph.from_edges(edges_df(spark, path), directed=False)
    g.materialize()
    DataFrame = type(g.edges)  # the concrete runtime class
    calls = {"n": 0}
    orig = {m: getattr(DataFrame, m) for m in ("count", "first", "collect")}

    def wrap(name):
        def inner(self, *a, **k):
            calls["n"] += 1
            return orig[name](self, *a, **k)

        return inner

    for m in orig:
        setattr(DataFrame, m, wrap(m))
    try:
        out, stats = kcore(
            g, mode="peel", local_finish_vertices=0, local_cascade=cascade
        )
    finally:
        for m, fn in orig.items():
            setattr(DataFrame, m, fn)
    rounds = stats.supersteps
    if cascade:
        # the hybrid collapses a path's ~V/2 cascade rounds to the
        # cross-block boundary depth
        assert rounds <= 6, rounds
        per_round = 2  # truncation job + per-block bounds collect
    else:
        assert rounds >= n // 2 - 2
        per_round = 2  # truncation job + bounds
    budget = per_round * rounds + 20  # + setup/fold/shrink slack
    assert stats.actions <= budget, (stats.actions, rounds, budget)
    # independent cross-check: the wrapped count/first/collect calls must
    # track the engine counter (truncation jobs are localCheckpoint-based,
    # not wrapped, hence the two-sided slack)
    assert abs(calls["n"] - stats.actions) <= rounds + 8, (
        calls["n"],
        stats.actions,
        rounds,
    )
    rows = _coreness(out)
    assert rows == {i: 1 for i in range(n)}
    g.unpersist()


def test_legacy_round_broadcasts_frontier_above_cap(spark, monkeypatch):
    """With the alive vertices above the broadcast cap, the legacy round's
    two frontier joins (the edge semi-join and the degree anti-join) must
    still broadcast the frontier, not shuffle the edge table to meet it:
    every round's degree frame is planned with a broadcast hash join for
    both, above the cap (40 alive, cap 10) and below it."""
    import importlib

    mod = importlib.import_module("tcr_kcore_spark.operators.kcore")
    real = mod.truncate_lineage
    plans = []

    def record(df):
        if df.columns == ["id", "deg"]:  # a round's new degree table
            plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df)

    monkeypatch.setattr(mod, "truncate_lineage", record)
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_MAX_ROWS", "10")
    n = 40
    path = [(i, i + 1) for i in range(n - 1)]
    g = LinkGraph.from_edges(edges_df(spark, path), directed=False)
    out, st = kcore(g, mode="peel", local_finish_vertices=0, local_cascade=False)
    assert _coreness(out) == {i: 1 for i in range(n)}
    assert len(plans) == st.supersteps >= n // 2 - 2
    for plan in plans:
        joins = [l for l in plan.splitlines() if "LeftSemi" in l or "LeftAnti" in l]
        assert len(joins) == 2 and all("BroadcastHashJoin" in l for l in joins), plan


def test_peel_checkpoint_resume_identical(spark, tmp_path):
    """Peel-mode phase checkpoint (reference deleted-bitmap semantics,
    KCore_big.py:252-259): interrupt mid-peel, resume from the survivor
    degrees + coreness-so-far, final coreness identical."""
    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.operators import kcore
    from tests import oracles
    from tests.conftest import edges_df

    edges = oracles.er_graph(n=250, avg_deg=6, seed=5)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    full, _ = kcore(g, mode="peel", local_finish_vertices=0)
    want = _coreness(full)

    ck = str(tmp_path / "peel_ck")
    g2 = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    partial, st1 = kcore(
        g2, mode="peel", max_iter=4, checkpoint_dir=ck, checkpoint_every=2,
        local_finish_vertices=0,
    )
    assert st1.supersteps == 4
    release_state(partial)

    # resume WITH the local finisher on: it must seed k from the manifest
    # and complete to the identical coreness
    g3 = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    resumed, st2 = kcore(
        g3, mode="peel", checkpoint_dir=ck, checkpoint_every=2, resume=True
    )
    assert st2.resumed_from is not None and st2.resumed_from >= 2
    got = _coreness(resumed)
    assert got == want


def test_hindex_local_fast_path_matches_distributed(spark):
    """r6: the whole-graph layered-BZ local finish (fires when the graph
    fits the phase-2 caps) must equal the distributed h-index fixpoint
    exactly — same physical-plan-choice contract as the peel finisher."""
    edges = oracles.er_graph(n=300, avg_deg=10, seed=3)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    fast, st_fast = kcore(g, mode="hindex")  # default caps -> local kernel
    assert st_fast.local_finish_secs > 0 and st_fast.supersteps == 1
    slow, st_slow = kcore(g, mode="hindex", local_finish_vertices=0)
    assert st_slow.supersteps > 1 and st_slow.local_finish_secs == 0.0
    got_fast = _coreness(fast)
    got_slow = _coreness(slow)
    assert got_fast == got_slow == oracles.coreness(edges)


def test_layered_bz_arrays_matches_oracle():
    """NumPy-level property test of the r6 layered BZ kernel (no Spark):
    random graphs + a deep path (many frontier levels)."""
    import numpy as np

    from tcr_kcore_spark.operators.kcore import _layered_bz_arrays
    from tcr_kcore_spark.plans.partitioning import simple_pairs

    rng = np.random.default_rng(11)
    cases = [oracles.er_graph(n=200, avg_deg=7, seed=s) for s in (1, 2, 3)]
    cases.append(oracles.zipf_hub_graph(n=300, m=1500, seed=5))
    cases.append([(i, i + 1) for i in range(500)])  # path: V/2 levels
    for edges in cases:
        want = oracles.coreness(edges)
        # canonical rows, loops and duplicates included: simple_pairs
        # reduces them to the simple graph
        a = np.array([min(e) for e in edges] * 2, dtype=np.int64)
        b = np.array([max(e) for e in edges] * 2, dtype=np.int64)
        ids, s, d = simple_pairs(a, b)
        core = _layered_bz_arrays(ids.shape[0], s, d)
        assert dict(zip(ids.tolist(), core.tolist())) == want
        # a floor k: vertices of coreness ≤ k take k, the rest keep theirs
        floored = _layered_bz_arrays(ids.shape[0], s, d, k_floor=3)
        assert floored.tolist() == [max(3, c) for c in core.tolist()]


def test_block_bz_kernel_matches_oracle():
    """NumPy-level test of the hybrid peel's per-block kernel (no Spark)
    against the serial fixed-k cascade: random open and closed blocks,
    stale rows from and to dead in-block vertices, rows to other blocks,
    k from 0 to 5."""
    import numpy as np
    import pandas as pd

    from tcr_kcore_spark.operators.kcore import _block_bz_kernel

    rng = np.random.default_rng(5)
    span = 30
    kinds = {"open": 0, "closed": 0}
    for _ in range(150):
        blk = int(rng.integers(0, 4))
        ids = np.arange(blk * span, (blk + 1) * span)
        alive = {int(v) for v in ids[rng.random(span) < 0.8]}
        if not alive:
            continue
        # in-block edges over every block id: a dead endpoint makes a stale row
        a, b = rng.choice(ids, (2, int(rng.integers(0, 4 * span))))
        pairs = {(int(x), int(y)) for x, y in zip(a, b) if x != y}
        rows = sorted(pairs | {(y, x) for x, y in pairs})
        closed = rng.random() < 0.4
        if not closed:  # rows to ids of other blocks, dead or alive there
            m = int(rng.integers(1, 2 * span))
            src = rng.choice(ids, m).tolist()
            rows += list(zip(src, rng.integers(4 * span, 8 * span, m).tolist()))
        kinds["closed" if closed else "open"] += 1
        # residual degree: the alive in-block neighbors plus some of the
        # other-block targets (those still alive)
        degs = {
            v: sum(1 for s, d in rows if s == v and d in alive)
            + int(rng.integers(0, 1 + sum(1 for s, d in rows if s == v and d // span != blk)))
            for v in alive
        }
        k = int(rng.integers(0, 6))
        order = rng.permutation(len(rows))
        edge_pdf = pd.DataFrame(
            np.array(rows, dtype=np.int64).reshape(-1, 2)[order], columns=["src", "dst"]
        )
        deg_pdf = pd.DataFrame(
            {"id": list(degs), "deg": list(degs.values())}, dtype="int64"
        ).sample(frac=1, random_state=int(rng.integers(1 << 30)))
        out = _block_bz_kernel(k, span)(deg_pdf, edge_pdf)
        got = sorted(zip(out["kind"].tolist(), out["id"].tolist(), out["val"].tolist()))
        assert got == oracles.block_cascade(degs, rows, k, span), (blk, k, closed)
    assert min(kinds.values()) >= 30, kinds


def _plan_nodes(df) -> set:
    """Physical-plan node names of ``df`` (a cached scan is a leaf: its
    build plan is not part of this query)."""

    def walk(p):
        if p.nodeName().startswith("AdaptiveSparkPlan"):
            p = p.inputPlan()
        found = {p.nodeName()}
        kids = p.children()
        for i in range(kids.size()):
            found |= walk(kids.apply(i))
        return found

    return walk(df._jdf.queryExecution().executedPlan())


def _collected(spark, monkeypatch) -> list:
    """Record every DataFrame collected through ``toArrow()``."""
    cls = type(spark.range(0))  # the concrete (classic) DataFrame class
    frames = []
    real = cls.toArrow

    def record(self):
        frames.append(self)
        return real(self)

    monkeypatch.setattr(cls, "toArrow", record)
    return frames


def test_local_kernel_reads_cached_view_of_materialized_directed_graph(spark, monkeypatch):
    """The driver-local collect: a directed graph that is not materialized
    symmetrizes per call inside the collected plan (an exchange and an
    aggregate); a materialized one collects its cached view."""
    collected = _collected(spark, monkeypatch)
    edges = oracles.er_graph(n=80, avg_deg=6, seed=11)
    want = oracles.coreness(edges)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=True)
    shuffles = {"Exchange", "HashAggregate"}

    release_state(kcore(g)[0])
    assert shuffles & _plan_nodes(collected[-1])
    g.materialize()
    out, st = kcore(g)
    assert st.local_finish_secs > 0
    nodes = _plan_nodes(collected[-1])
    assert "InMemoryTableScan" in nodes and not shuffles & nodes, nodes
    assert _coreness(out) == want
    g.unpersist()


def test_local_regime_runs_no_python_worker(spark):
    """kcore (hindex), triangles_per_vertex and the five vertex programs
    with a driver-local form (hashmin components, bfs, lpa, pagerank, ppr)
    on a small materialized graph: no Python exec node in any plan they
    run, and one Spark job each — the collect of the cached edges;
    reading the result (a local relation) runs none.  The vertex set is
    counted before, as the first operator on a graph does it for all later
    ones."""
    from tcr_kcore_spark.operators import (
        bfs,
        connected_components,
        label_propagation,
        pagerank,
        personalized_pagerank,
    )
    from tcr_kcore_spark.operators.triangles import triangles_per_vertex
    from tests.test_dense_ids import PY_EXEC_NODES, _plans_of

    edges = oracles.er_graph(n=80, avg_deg=6, seed=11)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    g.materialize()
    g.vertex_set()
    sc = spark.sparkContext
    got, jobs, regimes = {}, {}, {}

    def run(name, call):
        # job groups are session-wide: a name another test uses would add
        # its jobs to this count
        group = f"local_regime_{name}"
        sc.setJobGroup(group, group)
        try:
            out, stats = call()
            got[name] = out.collect()
            release_state(out)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        regimes[name] = out.regime if stats is None else stats.regime

    calls = {
        "kcore": lambda: kcore(g),
        "triangles": lambda: (triangles_per_vertex(g), None),
        "components": lambda: connected_components(g),
        "bfs": lambda: bfs(g, source=0),
        "lpa": lambda: label_propagation(g, rounds=3),
        "pagerank": lambda: pagerank(g, tol=1e-6),
        "ppr": lambda: personalized_pagerank(g, seeds=[0, 1]),
    }
    plans = _plans_of(spark, lambda: [run(name, call) for name, call in calls.items()])
    g.unpersist()
    assert plans, "no SQL executions recorded"
    for plan in plans:
        for node in PY_EXEC_NODES:
            assert node not in plan, f"{node} in a local-regime plan:\n{plan}"
    assert regimes == {name: "local" for name in calls}
    assert jobs == {name: 1 for name in calls}
    assert {r["id"]: r["component"] for r in got["components"]} == oracles.components(edges)
    assert {r["id"]: r["distance"] for r in got["bfs"]} == oracles.bfs(edges, 0)
    assert {r["id"]: r["label"] for r in got["lpa"]} == oracles.lpa(edges, 3)
    want = oracles.pagerank(edges + [(b, a) for a, b in edges], max_iter=100)
    assert {r["id"]: r["rank"] for r in got["pagerank"]} == pytest.approx(want, rel=1e-9)
    assert {r["id"]: r["coreness"] for r in got["kcore"]} == oracles.coreness(edges)
    assert {r["id"]: r["triangles"] for r in got["triangles"]} == oracles.triangles(edges)
