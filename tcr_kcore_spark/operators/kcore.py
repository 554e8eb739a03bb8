"""k-core decomposition — the heart of the reference (SURVEY.md §2.D D4-D6).

Reference semantics (exact peel, ``TCR/src/demo/KCore_new_v3.py:46-85``):
start at ``k=1``; repeatedly peel ``B = {v alive : deg(v) ≤ k}`` — every
peeled vertex gets coreness ``k``, each deleted edge decrements its
neighbor's degree (the reference counts decrements with
``torch.unique(return_counts)``, ``KCore_new_v3.py:68-69``) — and when no
vertex is peelable, increment k; stop when nothing is left.  The distributed
variant adds a two-phase shrink: once ~98% of vertices are peeled the
survivor graph is re-materialized small (``PKC/pkc.c:23`` ``frac 0.98``;
``TCR/src/demo/KCore_big.py`` phase 2).

Spark formulations:

- ``mode="peel"`` — faithful peel: each inner round is one shuffle
  (``B ⋈ edges → groupBy(dst).count``) applied to a cached survivor edge
  set; the survivor set is re-materialized (checkpoint + re-read) whenever
  the alive fraction halves, which both bounds lineage and reproduces the
  reference's two-phase shrink.  ``k`` jumps straight to the minimum
  remaining degree instead of incrementing by 1 (identical output, far
  fewer empty rounds — the reference pays one all-reduce per empty round).
- ``mode="hindex"`` — iterated h-index (Montresor-style estimate, reference
  D5 ``TCR/src/demo/KCore.py:66-84``): ``est₀ = degree``;
  ``est' = h-index of neighbor estimates``; the fixpoint is exactly the
  coreness (Lü et al. 2016).  Each round is one join + one window — O(few
  tens) of rounds total vs O(Σ peel rounds); this is the scale path, and
  converges to the SAME exact coreness as the peel.
- the driver-local regime: a graph (hindex) or peel residual (peel) within
  the caps of ``plans.partitioning.local_caps`` is collected to the driver
  once and peeled there by the layered BZ kernel (``_layered_bz_arrays``)
  — the reference's phase 2, which re-peels a small residual on one
  device (``TCR/src/demo/KCore_subscr_one.py:79-141``).

Self-loops count in no degree in any path, as in the reference
(``KCoreGPU-master/.../src/graph.cpp:87-101``).  Every vertex of the
undirected graph's ``vertices()`` gets a row: one whose only edge is a
self-loop has coreness 0.  (The undirected view of a directed graph drops
self-loops when it is built, so there such a vertex is not a vertex at all,
as the reference's writer skips zero-degree vertices, ``graph.cpp:133-136``.)
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.partitioning import (
    local_caps,
    local_regime,
    simple_pairs,
    solve_local,
    state_side,
)
from tcr_kcore_spark.superstep import (
    checkpoint_block,
    SuperstepStats,
    release_state,
    truncate_lineage,
    vertex_program,
)


def kcore(
    graph: LinkGraph,
    mode: str = "hindex",
    max_iter: int = 100_000,  # peel rounds scale with graph depth (a path
    # graph peels 2 vertices/round); this is a runaway bound, not a budget
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 20,
    resume: bool = False,
    shrink_factor: float = 0.5,
    truncate_every: int = 1,
    local_finish_vertices: int = 2_000_000,
    local_finish_edges: int = 8_000_000,
    local_cascade: bool = True,
    n_blocks: int | None = None,
    block_span: int | None = None,
) -> tuple[DataFrame, SuperstepStats]:
    """Returns ((id, coreness), stats) on the symmetrized graph.

    ``local_cascade`` (peel mode): run the reference's local-then-global
    peel (the inner ``while B`` loop between all-reduces,
    ``TCR/src/demo/KCore_big.py:208-234``): survivor edges are
    range-partitioned into contiguous vertex blocks co-partitioned with the
    degree table, and each global superstep runs a per-block bin-sorted BZ
    cascade at the current k inside ``applyInPandas`` — in-block decrements
    apply immediately (many local peel rounds per shuffle round); only
    boundary decrements to other blocks cross the shuffle.  A block whose
    alive subgraph has NO external edges is *closed* and finishes its
    entire coreness decomposition locally in that superstep (valid because
    every survivor has coreness ≥ the current k, so BZ with floor k on the
    independent subgraph is exact).  Global supersteps per k-level collapse
    from the cascade depth to the cross-block boundary depth.
    ``local_cascade=False`` keeps the one-level-per-round global peel
    (each round peels only ``deg ≤ k`` once; used for A/B benches).

    The hybrid is ADAPTIVE (round 5): a cascade round pays an Arrow
    round-trip of the active blocks' edges — a measured 7.5x regression
    over legacy decrement rounds when blocks straddle components and
    in-block depth is ~1 (BENCH/peel_scale.jsonl, n_blocks=48 row).  The
    measured in-block edge fraction (one ~free aggregation that doubles
    as the cache warm-up; ``stats.local_edge_frac``) seeds the starting
    round type, then the loop measures per-round peel throughput, runs
    the faster round type, and re-probes the loser with exponential
    backoff (see _peel).  Set SPARK_GRAFT_CASCADE_PROBE=0 to force pure
    cascade rounds (A/B).

    ``local_finish_vertices/edges`` cap the driver-local regime
    (``plans.partitioning.local_caps``: V ≤ ``broadcast_max_rows()`` and
    at most ``LOCAL_MAX_ENTRIES`` symmetric entries); 0 disables it (pure
    distributed rounds).  In hindex mode a graph within the caps, and with
    no checkpoint or resume, is solved outright: one ``toArrow()`` collect
    of its canonical edges, the layered BZ kernel on the driver, and a
    local relation back (``plans.partitioning.solve_local`` — no Python
    worker, no rounds).  In
    peel mode, once the survivor set shrinks within the caps, the residual
    goes the same way with the current k as floor — the reference's phase
    2, collapsing the long tail of tiny peel rounds (each a full Spark job)
    into one collect.

    The peel's trigger is EDGE-mass-driven and free: deg[v] is maintained
    as the degree to survivors, so sum(deg) in the per-round bounds action
    IS the exact residual edge count — no probe join.  Cap rationale: the
    BZ kernel is linear in E (BENCH/bz_finisher.jsonl: 1.1M edges/s for
    the serial kernel this one replaced), so the 8M cap bounds the serial
    tail at a few seconds.  On the 64x-disjoint 153M-edge bench the
    residual holds >8M edges until the final cascade, so the finisher
    never fires there (BENCH/peel_scale.jsonl local_finish_secs=0.0) — the
    cap pays off on graphs whose residual shrinks gradually
    (test_peel_midway_edge_mass_handoff exercises a mid-peel fire).
    ``stats.local_finish_secs`` reports the actual cost per run."""
    g = graph.undirected_view()
    if mode == "hindex":
        return _hindex(
            g,
            max_iter,
            checkpoint_dir,
            checkpoint_every,
            resume,
            truncate_every,
            local_finish_vertices,
            local_finish_edges,
        )
    if mode == "peel":
        return _peel(
            g,
            max_iter,
            shrink_factor,
            checkpoint_dir,
            checkpoint_every,
            resume,
            local_finish_vertices,
            local_finish_edges,
            local_cascade,
            n_blocks,
            block_span,
        )
    raise ValueError(f"unknown mode {mode!r}")


# ---------------------------------------------------------------------------
# h-index fixpoint (scale path)
# ---------------------------------------------------------------------------


# Above this max degree the per-vertex h-index switches from one
# row_number window (fastest on hub-free graphs: one pass, no extra
# aggregate) to the hub-safe distinct-value aggregation (map-side combine
# absorbs the hub; measured ~10% slower on dense hub-free graphs, but no
# task ever sorts a degree-length list).  A stats-based physical choice,
# decided once per run from the degree table.
_HUB_WINDOW_MAX_DEG = 65_536

# h-index delta-pruning engages only below this changed-vertex fraction
# (1.1 = always prune — the pre-round-5 behavior, kept togglable for A/B).
# 0.5 separates the dense opening phase (sf0.1: rounds 0-6 run at 50-98%
# changed, where targets ≈ every vertex and the pruning scan+distinct+
# broadcast is pure overhead) from the wavy tail (the changed count
# BOUNCES — 28% → 39% → 7% → 11% → 26% measured — so an aggressive
# threshold would intermittently un-prune cheap late rounds).  The win is
# bounded (~one edge scan + distinct per skipped round); a loaded-window
# interleaved A/B at sf0.1 could not separate it from ±5x host noise
# (ctl min 18.8s vs skip min 20.7s, spreads 2x) — kept because skipping
# is strictly less work when the recompute set is ~everything.
_PRUNE_MAX_CHANGED_FRAC = 0.5


def _hindex_round(
    edges: DataFrame,
    est: DataFrame,
    changed: DataFrame | None = None,
    bcast: bool = True,
    hub_safe: bool = True,
) -> DataFrame:
    """One h-operator application: est'_v = h-index of {est_u : u ∈ N(v)}.

    Hub-safe formulation: instead of row_number-sorting every vertex's full
    neighbor list (one window partition per vertex with fan-in = degree — a
    10^8-degree hub serializes one task sorting 10^8 rows), aggregate to
    DISTINCT estimate values first.  ``groupBy(id, nbr_est).count()`` gets
    Tungsten map-side partial aggregation (each map task emits at most one
    row per (id, value) — this is what absorbs the hub, exactly like the
    reference's degree-balanced partitioners, ``GeminiPartition.py:11-39``),
    then a running sum over the few distinct values per vertex gives
    ``s_v = |{u ∈ N : est_u ≥ v}|`` and the h-index identity
    ``h = max over distinct v of min(v, s_v)``.  All JVM-side, no Python.

    ``changed`` (ids whose est dropped last round) restricts the recompute
    set: est is monotone non-increasing, so est'_v can only drop if some
    neighbor's est dropped — only neighbors of changed vertices need their
    h recomputed.  Late rounds touch a tiny fraction of the graph
    (the same delta-pruning the reference's activation mask provides,
    ``GASProgram.py:142-149``).
    """
    maybe_b = lambda df: state_side(df, bcast)
    e = edges.where(F.col("src") != F.col("dst"))  # the reference drops self-loops
    if changed is not None:
        targets = (
            e.join(maybe_b(changed.select(F.col("id").alias("src"))), "src", "left_semi")
            .select("dst")
            .distinct()
        )
        e = e.join(maybe_b(targets), "dst", "left_semi")
    msgs = e.join(
        maybe_b(est.select(F.col("id").alias("src"), F.col("est").alias("nbr_est"))),
        "src",
    ).select(F.col("dst").alias("id"), "nbr_est")
    if hub_safe:
        counts = msgs.groupBy("id", "nbr_est").agg(F.count(F.lit(1)).alias("cnt"))
        w = (
            Window.partitionBy("id")
            .orderBy(F.desc("nbr_est"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        h = (
            counts.withColumn("s", F.sum("cnt").over(w))
            .select("id", F.least(F.col("nbr_est"), F.col("s")).alias("cap"))
            .groupBy("id")
            .agg(F.max("cap").alias("h"))
        )
    else:
        # hub-free fast path: one window pass over the raw messages
        w = Window.partitionBy("id").orderBy(F.desc("nbr_est"))
        h = (
            msgs.withColumn("rn", F.row_number().over(w))
            .select("id", F.least(F.col("nbr_est"), F.col("rn")).alias("cap"))
            .groupBy("id")
            .agg(F.max("cap").alias("h"))
        )
    # est is monotone non-increasing.  A vertex absent from msgs keeps est
    # when pruning skipped it; in a full round it has no neighbor besides
    # itself, so its h-index is 0
    absent = F.col("est") if changed is not None else F.lit(0).cast("long")
    return (
        est.join(maybe_b(h), "id", "left")
        .select(
            "id",
            F.least(F.col("est"), F.coalesce(F.col("h"), absent)).alias("new_est"),
            "est",
        )
        .select(
            "id",
            F.col("new_est").alias("est"),
            (F.col("new_est") < F.col("est")).alias("changed"),
        )
    )


def _hindex(
    g: LinkGraph,
    max_iter: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    truncate_every: int = 1,
    local_finish_vertices: int = 2_000_000,
    local_finish_edges: int = 8_000_000,
) -> tuple[DataFrame, SuperstepStats]:
    # Whole-graph local solve: a graph inside the driver-local regime
    # (plans.partitioning.local_regime, capped further by this call's
    # local_finish_* keywords) is peeled to completion by the layered BZ
    # kernel on the driver instead of tens of join+window rounds, each a
    # full Spark job.  Both compute the same exact coreness (the iterated
    # h-index fixpoint IS the BZ peel value, Lü et al. 2016), so this is a
    # physical-plan choice, not an approximation — the distributed rounds
    # remain the scale path above the caps and under checkpoint/resume.
    # On a materialized graph the gate reads kept counts: no planning
    # aggregate, no degree table, one collect of the cached edges.
    if local_regime(g, local_finish_vertices, local_finish_edges, checkpoint_dir, resume):
        stats = SuperstepStats()
        t0 = time.time()
        out = solve_local(g.edges, _coreness_kernel())
        stats.actions += 1  # the one collect
        stats.supersteps = 1
        stats.converged = True
        stats.local_finish_secs = round(time.time() - t0, 3)
        stats.wall_secs = time.time() - t0
        return out, stats

    # the symmetric degree table (g is undirected; shared when the graph
    # is materialized)
    degrees = g.out_degree_table()
    # ONE planning action for V and max degree — r5 paid three driver
    # actions here (vertices().count(), edges.count(), max-degree agg)
    # before the first superstep.
    prow = degrees.agg(
        F.count(F.lit(1)).alias("v"), F.max("out_deg").alias("mx")
    ).first()
    n_verts = prow["v"]
    hub_safe = (prow["mx"] or 0) > _HUB_WINDOW_MAX_DEG

    # Delta-pruning pays only once the changed set is small: the targets
    # computation costs an extra edge scan + distinct + broadcast per
    # round, and in early rounds (most estimates still dropping) the
    # pruned recompute set is ~everything anyway.  The observed changed
    # count feeds the skip: prune only when < _PRUNE_MAX_CHANGED_FRAC of
    # vertices changed last round (threshold rationale + measured
    # changed-fraction trajectory at the constant's definition above).
    last_changed = {"n": None}

    def halted(row) -> bool:
        last_changed["n"] = row["n"] or 0
        return last_changed["n"] == 0

    # the degree table is the vertex frame: V is known from the planning
    # aggregate, and init projects the cached degrees (no truncation job).
    # A self-loop counts in out_deg but sends no message: est₀ is then an
    # upper bound of the loop-free degree, and the fixpoint reached from
    # any upper bound of the coreness is the coreness.
    with vertex_program(g, degrees, n=n_verts) as vp:

        def step(state: DataFrame, i: int) -> DataFrame:
            n = last_changed["n"]
            prune = i > 0 and n is not None and n < _PRUNE_MAX_CHANGED_FRAC * n_verts
            changed = state.where("changed").select("id") if prune else None
            return _hindex_round(
                vp.edges, state.select("id", "est"), changed, vp.bcast, hub_safe
            )

        return vp.run(
            vp.verts.select(
                "id", F.col("out_deg").cast("long").alias("est"), F.lit(True).alias("changed")
            ),
            step,
            halt=(F.sum(F.col("changed").cast("long")).alias("n"), halted),
            result=("id", F.col("est").alias("coreness")),
            max_iter=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            name="kcore_hindex",
            resume=resume,
            truncate_every=truncate_every,
        )


def kcore_hindex_rounds(
    graph: LinkGraph, rounds: int, truncate_every: int = 1
) -> DataFrame:
    """Fixed number of h-operator rounds (no convergence check) — used by
    oracle-checked query entries where the SQL oracle unrolls the identical
    rounds.  At convergence (rounds ≥ needed) equals exact coreness.
    ``truncate_every``: rounds chained lazily per materialization
    (amortizes fixed per-job costs; see run_supersteps)."""
    g = graph.undirected_view()
    degrees = g.out_degree_table()
    # one planning action for V and max degree (was two driver actions)
    prow = degrees.agg(
        F.count(F.lit(1)).alias("v"), F.max("out_deg").alias("mx")
    ).first()
    hub_safe = (prow["mx"] or 0) > _HUB_WINDOW_MAX_DEG
    with vertex_program(g, degrees, n=prow["v"]) as vp:
        out, _ = vp.run(
            vp.verts.select("id", F.col("out_deg").cast("long").alias("est")),
            lambda est, i: _hindex_round(
                vp.edges, est, bcast=vp.bcast, hub_safe=hub_safe
            ).select("id", "est"),
            result=("id", F.col("est").alias("coreness")),
            max_iter=rounds,
            name="kcore_hindex_rounds",
            truncate_every=truncate_every,
        )
    return out


# ---------------------------------------------------------------------------
# exact peel (reference-faithful path)
# ---------------------------------------------------------------------------


def _layered_bz_arrays(n, s, d, k_floor: int = 0):
    """Vectorized exact coreness of the simple graph on dense vertices
    ``0..n-1`` with one ``(s, d)`` row per undirected edge (both NumPy):
    the layered ("parallel") Batagelj–Zaveršnik peel.  Instead of the
    serial process-one-vertex-at-a-time loop (pure Python over every
    adjacency entry), each inner step peels the WHOLE ``deg ≤ k`` frontier
    at once with NumPy gathers: the frontier's adjacency slices are
    concatenated via repeat/cumsum, decrements land via ``bincount``, and
    ``k`` jumps to the minimum remaining degree between levels.  Every
    adjacency entry is gathered exactly once over the run (when its
    source peels), so total work is O(E) vectorized + O(#levels) small
    steps.

    ``k_floor`` is the starting k: continuing a partial distributed peel
    is order-independent, so peeling the residual (whose degrees already
    reflect every earlier decrement) from the current k assigns exactly
    the original coreness — a residual degree ≤ ``k_floor`` means "would
    have peeled at the current k" and takes ``k_floor``.  A vertex with no
    edge gets ``k_floor``.  Returns the coreness array."""
    import numpy as np

    src = np.concatenate([s, d])
    dst = np.concatenate([d, s])
    deg = np.bincount(src, minlength=n).astype(np.int64)
    row_ptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(deg, out=row_ptr[1:])
    adj = dst[np.argsort(src, kind="stable")]
    alive = np.ones(n, dtype=bool)
    core = np.zeros(n, dtype=np.int64)
    cur = deg.copy()
    k = k_floor
    n_alive = n
    while n_alive:
        mn = int(cur[alive].min())
        if mn > k:
            k = mn
        frontier = np.flatnonzero(alive & (cur <= k))
        while frontier.size:
            core[frontier] = k
            alive[frontier] = False
            n_alive -= frontier.size
            lens = row_ptr[frontier + 1] - row_ptr[frontier]
            total = int(lens.sum())
            if total:
                stops = np.cumsum(lens)
                idx = np.repeat(
                    row_ptr[frontier] - (stops - lens), lens
                ) + np.arange(total, dtype=np.int64)
                t = adj[idx]
                t = t[alive[t]]
                if t.size:
                    cur -= np.bincount(t, minlength=n)
            frontier = np.flatnonzero(alive & (cur <= k))
    return core


def _coreness_kernel(k_floor: int = 0):
    """``solve_local`` kernel: ``(id, coreness)`` for every vertex of the
    collected rows, on the simple graph (``simple_pairs``)."""

    def kernel(src, dst):
        ids, s, d = simple_pairs(src, dst)
        return {"id": ids, "coreness": _layered_bz_arrays(ids.shape[0], s, d, k_floor)}

    return kernel


def _block_bz_kernel(k: int, span: int):
    """Per-block fixed-k cascade for the hybrid local+global peel — the
    Spark analog of the reference's inner local-peel loop between
    all-reduces (``KCore_big.py:208-234``).  One cogrouped ``applyInPandas``
    call per (alive degrees of block, out-edges of block).

    The block runs a bin-sorted array BZ (vertices bucketed by degree,
    the layout of the reference's multicore phase, ``PKC/pkc.c:267-349``)
    over the *global* residual degrees from the degree table, with the
    adjacency split in two:

    - *local* adjacency: in-block neighbors that are alive — decrements
      apply immediately, so a whole cascade at level k completes inside
      the task (many local peel rounds per shuffle round);
    - *external* adjacency: neighbors in other blocks (aliveness unknown
      locally) — each peeled vertex emits one decrement per external
      neighbor; decrements to already-dead targets are dropped when the
      driver joins them against the survivor table.

    Stale in-block edges (dst in this block but already peeled in an
    earlier superstep) are dropped outright — the degree table, not the
    edge table, is authoritative for residual degrees.

    The scan peels in ascending-degree order while residual degree ≤ k
    (every such vertex has coreness exactly k: the level-(k-1) cascade
    completed globally before k advanced, and peeling is confluent).  If
    the block has NO external adjacency it is *closed* — an independent
    subgraph whose survivors all have coreness ≥ k — so the scan continues
    past k as a full Batagelj–Zaveršnik run with floor k, finishing the
    block's decomposition in this single superstep.

    Output rows (kind, id, val): kind 0 = peeled (val = coreness),
    kind 1 = survivor (val = residual degree after local decrements,
    before cross-block decrements), kind 2 = boundary decrement
    (val = count, pre-aggregated per target within the block).

    Memory: ~16 B per block edge + ~56 B per block vertex, plus a bin
    array sized by the max in-block degree (same bound as the reference's
    per-device bin sort, ``PKC/pkc.c:267-349``)."""

    def kernel(deg_pdf, edge_pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "kind": np.array([], dtype="int32"),
                "id": np.array([], dtype="int64"),
                "val": np.array([], dtype="int64"),
            }
        )
        n = len(deg_pdf)
        if n == 0:
            return empty
        ids = deg_pdf["id"].to_numpy(dtype="int64", copy=False)
        degs = deg_pdf["deg"].to_numpy(dtype="int64", copy=False)
        o = np.argsort(ids, kind="stable")
        ids = ids[o]
        deg = degs[o].astype(np.int64, copy=True)
        blk = ids[0] // span

        src = edge_pdf["src"].to_numpy(dtype="int64", copy=False)
        dst = edge_pdf["dst"].to_numpy(dtype="int64", copy=False)
        # alive-src filter (edge table is a stale superset between shrinks)
        sl = np.searchsorted(ids, src)
        np.clip(sl, 0, n - 1, out=sl)
        keep = ids[sl] == src
        src_l = sl[keep]
        dst_g = dst[keep]
        same_blk = (dst_g // span) == blk
        dl = np.searchsorted(ids, dst_g)
        np.clip(dl, 0, n - 1, out=dl)
        alive_dst = ids[dl] == dst_g
        local_mask = same_blk & alive_dst  # live in-block edge
        ext_mask = ~same_blk  # other block: aliveness unknown, emit decs
        # (same_blk & ~alive_dst: stale edge to an in-block dead vertex — drop)

        ls, ld = src_l[local_mask], dl[local_mask]
        lorder = np.argsort(ls, kind="stable")
        ladj = ld[lorder]
        lptr = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.bincount(ls, minlength=n), out=lptr[1:])
        es, ed = src_l[ext_mask], dst_g[ext_mask]
        eorder = np.argsort(es, kind="stable")
        eadj = ed[eorder]
        eptr = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.bincount(es, minlength=n), out=eptr[1:])
        closed = eadj.shape[0] == 0

        vert = np.argsort(deg, kind="stable").astype(np.int64)
        pos = np.empty(n, dtype=np.int64)
        pos[vert] = np.arange(n, dtype=np.int64)
        max_deg = int(deg.max())
        bin_start = np.zeros(max_deg + 2, dtype=np.int64)
        np.cumsum(np.bincount(deg, minlength=max_deg + 1), out=bin_start[1:])
        core = np.full(n, -1, dtype=np.int64)
        kr = k
        for i in range(n):
            v = vert[i]
            dv = deg[v]
            if dv > kr:
                if not closed:
                    break  # open block: levels past k need global knowledge
                kr = int(dv)
            core[v] = kr
            for j in range(lptr[v], lptr[v + 1]):
                u = ladj[j]
                du = deg[u]
                if du > dv:
                    pu = pos[u]
                    pw = bin_start[du]
                    w = vert[pw]
                    if u != w:
                        vert[pu] = w
                        vert[pw] = u
                        pos[u] = pw
                        pos[w] = pu
                    bin_start[du] = pw + 1
                    deg[u] = du - 1

        peeled = core >= 0
        parts = []
        n_peeled = int(peeled.sum())
        if n_peeled:
            parts.append(
                pd.DataFrame(
                    {
                        "kind": np.zeros(n_peeled, dtype="int32"),
                        "id": ids[peeled],
                        "val": core[peeled],
                    }
                )
            )
            if eadj.shape[0]:
                pv = np.flatnonzero(peeled)
                lens = eptr[pv + 1] - eptr[pv]
                total = int(lens.sum())
                if total:
                    # gather the concatenated external slices of peeled verts
                    stops = np.cumsum(lens)
                    idx = (
                        np.repeat(eptr[pv] - (stops - lens), lens)
                        + np.arange(total, dtype=np.int64)
                    )
                    targets, counts = np.unique(eadj[idx], return_counts=True)
                    parts.append(
                        pd.DataFrame(
                            {
                                "kind": np.full(targets.shape[0], 2, dtype="int32"),
                                "id": targets,
                                "val": counts.astype("int64"),
                            }
                        )
                    )
        n_surv = n - n_peeled
        if n_surv:
            surv = ~peeled
            parts.append(
                pd.DataFrame(
                    {
                        "kind": np.ones(n_surv, dtype="int32"),
                        "id": ids[surv],
                        "val": deg[surv],
                    }
                )
            )
        return pd.concat(parts, ignore_index=True) if parts else empty

    return kernel


def _peel(
    g: LinkGraph,
    max_iter: int,
    shrink_factor: float,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 20,
    resume: bool = False,
    local_finish_vertices: int = 2_000_000,
    local_finish_edges: int = 8_000_000,
    local_cascade: bool = True,
    n_blocks: int | None = None,
    block_span: int | None = None,
) -> tuple[DataFrame, SuperstepStats]:
    """Exact peel with optional mid-run checkpoint/resume — the analog of
    the reference's phase-1 deleted-bitmap checkpoint that phase 2 loads
    (``TCR/src/demo/KCore_big.py:252-259``, ``KCore_subscr_one.py:86``).
    A checkpoint persists the survivor degrees, the coreness-so-far and
    the current k; resume rebuilds the survivor edge set from the graph by
    an induced semi-join (the compacted-CSR rebuild, A14).

    ``local_cascade=True``: hybrid local+global rounds (see kcore()):
    the edge table is blocked by ``blk = src // span`` (contiguous vertex
    ranges), hash-partitioned on blk ONCE and kept co-partitioned across
    the whole loop — per superstep only the V-row degree table is
    exchanged to meet it, and the cogrouped ``_block_bz_kernel`` runs a
    whole fixed-k cascade (or a full BZ finish for closed blocks) per
    block per round.  Driver-action budget per round: exactly 2 for a
    cascade round (the state truncation job + the per-block bounds
    collect) and 3 for a legacy round (plus the frontier count that
    gives the planner the frontier's true size so the decrement join
    broadcasts it), plus O(log rounds) coreness folds and O(log V)
    shrink re-materializations — ``stats.actions`` counts them and tests
    assert the budget."""
    import json
    import os

    spark = g.edges.sparkSession
    stats = SuperstepStats()
    t0 = time.time()

    # the reference drops self-loops (graph.cpp:87-101): they count in no
    # degree and decrement nothing, and a vertex whose only row is a
    # self-loop keeps a degree-0 row (one aggregate over every row)
    deg = (
        g.edges.groupBy(F.col("src").alias("id"))
        .agg(F.sum((F.col("src") != F.col("dst")).cast("long")).alias("deg"))
        .persist()
    )
    edges = g.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    if local_cascade:
        n_parts = int(n_blocks or spark.conf.get("spark.sql.shuffle.partitions", "32"))
        max_id = deg.agg(F.max("id")).first()[0] or 0
        stats.actions += 1
        # block_span: explicit block width override — pair it with a
        # locality_relabel(align_span=block_span) layout so every block
        # holds only whole clusters regardless of how cluster sizes divide V
        span = int(block_span) if block_span else max(
            1, (int(max_id) + n_parts) // n_parts
        )  # default: ceil((max_id+1)/P)

        def blk_of(c):
            return F.floor(c / F.lit(span)).cast("long")

        edges = (
            edges.withColumn("blk", blk_of(F.col("src")))
            .repartition(n_parts, "blk")
            .persist()
        )
        # layout prior: the in-block edge fraction decides the STARTING
        # round type (the agg also materializes the persisted edge table,
        # which the first round needed anyway, so the action is ~free).
        # A cascade round's win is exactly the decrements it can apply
        # locally — with most edges crossing blocks there is no in-block
        # depth to collapse, and the measured misaligned-layout cascade
        # round costs 7.5x a legacy round (BENCH/peel_scale.jsonl).
        stats.local_edge_frac = (
            edges.agg(
                F.avg((blk_of(F.col("dst")) == F.col("blk")).cast("double"))
            ).first()[0]
            or 0.0
        )
        stats.actions += 1
    else:
        edges = edges.persist()

    def _bounds(d: DataFrame):
        """One action → (alive, min_deg, residual_edge_mass, per-blk min).
        deg[v] is maintained as the degree to survivors, so sum(deg) IS
        the exact residual symmetric-entry count (no probe join)."""
        stats.actions += 1
        if local_cascade:
            rows = (
                d.groupBy(blk_of(F.col("id")).alias("blk"))
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("deg").alias("mn"),
                    F.sum("deg").alias("m"),
                )
                .collect()
            )
            if not rows:
                return 0, None, 0, {}
            return (
                sum(r["n"] for r in rows),
                min(r["mn"] for r in rows),
                sum(r["m"] or 0 for r in rows),
                {r["blk"]: r["mn"] for r in rows},
            )
        b = d.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("deg").alias("mn"),
            F.sum("deg").alias("m"),
        ).first()
        return b["n"], b["mn"], b["m"] or 0, {}

    # Peeled batches accumulate as cached per-round selections and fold
    # into one truncated union on a DOUBLING cadence — O(log rounds) fold
    # jobs total (round 1 wrote one Parquet append job + commit per peel
    # round: hundreds of tiny files on a deep graph).
    acc: DataFrame | None = None
    pending: list[tuple[DataFrame, DataFrame]] = []  # (persisted handle, rows)
    next_flush = 1
    k = None

    if resume and checkpoint_dir:
        meta_path = os.path.join(checkpoint_dir, "peel_meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            deg.unpersist()
            deg = spark.read.parquet(os.path.join(checkpoint_dir, "deg")).persist()
            if meta["has_coreness"]:
                acc = spark.read.parquet(os.path.join(checkpoint_dir, "coreness"))
                acc = truncate_lineage(acc)
            k = meta["k"]
            stats.supersteps = meta["rounds"]
            stats.resumed_from = meta["rounds"]
            # compacted survivor rebuild (A14): only edges between alive ids
            survivors = deg.select("id")
            edges_r = (
                edges.join(survivors.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(survivors.withColumnRenamed("id", "dst"), "dst", "left_semi")
            )
            if local_cascade:
                # keep the blk co-partitioning across the rebuild (metadata
                # survives checkpoint_block, not truncate_lineage)
                edges_r = checkpoint_block(edges_r.repartition(n_parts, "blk"))
                stats.actions += 1
            else:
                edges_r = truncate_lineage(edges_r)
            edges.unpersist()
            edges = edges_r

    def _checkpoint(deg, acc, k):
        nonlocal pending
        acc = _flush(acc)
        deg.write.mode("overwrite").parquet(os.path.join(checkpoint_dir, "deg"))
        if acc is not None:
            acc.write.mode("overwrite").parquet(os.path.join(checkpoint_dir, "coreness"))
        with open(os.path.join(checkpoint_dir, "peel_meta.json"), "w") as f:
            json.dump(
                {"k": k, "rounds": stats.supersteps, "has_coreness": acc is not None},
                f,
            )
        return acc

    def _flush(acc: DataFrame | None) -> DataFrame | None:
        if not pending:
            return acc
        batch = pending[0][1]
        for _, rows in pending[1:]:
            batch = batch.unionByName(rows)
        if acc is not None:
            batch = acc.unionByName(batch)
        new_acc = truncate_lineage(batch)
        stats.checkpoints += 1  # fold-job counter (tests bound it O(log rounds))
        if acc is not None:
            release_state(acc)
        for handle, _ in pending:
            release_state(handle)  # frees plain persists AND truncated frames
        pending.clear()
        return new_acc

    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
    alive, min_deg, res_edges, blk_min = _bounds(deg)
    last_shrink = alive
    rounds_since_ckpt = 0
    local_finished = False
    # --- adaptive round-type controller (local_cascade only).  A cascade
    # round collapses all in-block depth at the current k (and finishes
    # closed blocks outright) but pays an Arrow round-trip of the active
    # blocks' edges; a legacy decrement round advances one peel level via
    # cheap JVM aggregations.  Neither dominates: aligned/closed blocks
    # peel in ONE cascade round (153M-edge bench: 144 rounds -> 1), while
    # a homogeneous graph whose blocks straddle components pays the full
    # Arrow cost per round for ~one level of progress (measured 7.5x WORSE
    # than legacy, BENCH/peel_scale.jsonl n_blocks=48).  So the loop
    # measures peel throughput (vertices/sec) per round type, runs the
    # incumbent, and re-probes the other type with exponential backoff
    # (immediately after shrinks, which change both types' costs).
    # SPARK_GRAFT_CASCADE_PROBE=0 forces pure cascade rounds (A/B).
    # The measured in-block edge fraction seeds the incumbent (round 5.1):
    # an aligned layout (frac → 1) starts on cascade rounds — round 1 is
    # where closed blocks finish outright — while a straddling layout
    # (frac → 0) starts on legacy rounds and NEVER pays the old
    # full-price round-2 cascade probe blind: when the prior is confident
    # (frac outside [0.1, 0.9]) the first cross-probe is deferred to the
    # normal backoff cadence; in the ambiguous band the round-2 probe is
    # kept so a wrong prior costs at most one mispriced round.
    probing_on = os.environ.get("SPARK_GRAFT_CASCADE_PROBE", "1") != "0"
    # the phase-2 handoff's caps: the driver-local regime's
    max_v, max_e = local_caps(local_finish_vertices, local_finish_edges)
    frac = getattr(stats, "local_edge_frac", -1.0)
    incumbent = "cascade" if (not local_cascade or frac >= 0.5) else "legacy"
    pps: dict = {"cascade": None, "legacy": None}
    probe_countdown, stick = (1, 4) if 0.1 < frac < 0.9 else (4, 4)
    while alive > 0 and stats.supersteps < max_iter:
        # phase-2 handoff: peel the small residual to completion in ONE task
        if 0 < alive <= max_v and res_edges <= max_e:
            survivors = deg.select("id")
            residual = (
                edges.select("src", "dst")
                .join(survivors.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(survivors.withColumnRenamed("id", "dst"), "dst", "left_semi")
            )
            t_fin = time.time()
            # the residual is symmetric: its canonical rows go to the
            # driver-local kernel (plans.partitioning.solve_local)
            local = solve_local(residual, _coreness_kernel(k if k is not None else 0))
            stats.actions += 1
            stats.local_finish_secs = round(time.time() - t_fin, 3)
            # survivors with no residual edges peel at the current k
            floor = F.lit(k if k is not None else 0).cast("long")
            isolated = deg.join(local, "id", "left_anti").select(
                "id", floor.alias("coreness")
            )
            # `local` is a local relation: _flush has nothing to free
            pending.append((local, local.unionByName(isolated)))
            local_finished = True
            break
        # jump k to the smallest remaining degree (same output as k += 1
        # through empty rounds — KCore_new_v3 pays a full round per k)
        k = min_deg if k is None else max(k, min_deg)

        if not local_cascade:
            round_mode, probing = "legacy", False
        elif not probing_on:
            round_mode, probing = "cascade", False
        elif probe_countdown <= 0:
            round_mode = "legacy" if incumbent == "cascade" else "cascade"
            probing = True
        else:
            round_mode, probing = incumbent, False
        prev_alive = alive
        t_round = time.time()

        if round_mode == "cascade":
            # hybrid round: every block whose min residual degree ≤ k runs
            # a full local cascade at k (closed blocks finish outright);
            # only V-row state and boundary decrements cross the shuffle
            active = [b for b, mn in blk_min.items() if mn is not None and mn <= k]
            if probing and len(active) > 8:
                # SAMPLED probe: measure the cascade rate on ~1/8 of the
                # active blocks — peeling only a subset of blocks at the
                # current k is confluence-safe (the unpeeled blocks keep
                # their deg ≤ k vertices, so k cannot advance past them),
                # and the probe pays ~1/8 of the Arrow round-trip instead
                # of the full-graph price (measured 73s of tax over 5
                # full probes on the 38M-entry scrambled bench).
                active = sorted(active)[: max(1, len(active) // 8)]
            kern = _block_bz_kernel(int(k), span)
            deg_b = deg.withColumn("blk", blk_of(F.col("id")))
            if len(active) < len(blk_min):
                act_deg = deg_b.where(F.col("blk").isin(active))
                inact_deg = deg_b.where(~F.col("blk").isin(active))
                act_edges = edges.where(F.col("blk").isin(active))
            else:
                act_deg, inact_deg, act_edges = deg_b, None, edges
            out = (
                act_deg.repartition(n_parts, "blk")
                .groupby("blk")
                .cogroup(act_edges.groupby("blk"))
                .applyInPandas(kern, "kind int, id long, val long")
                .persist()
            )
            decs = out.where("kind = 2").groupBy("id").agg(F.sum("val").alias("dec"))
            surv = out.where("kind = 1").select("id", F.col("val").alias("deg"))
            if inact_deg is not None:
                surv = surv.unionByName(inact_deg.select("id", "deg"))
            new_deg = surv.join(decs, "id", "left").select(
                "id", (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias("deg")
            )
            new_deg = truncate_lineage(new_deg)  # materializes `out` en route
            stats.actions += 1
            stats.supersteps += 1
            stats.cascade_rounds += 1
            pending.append(
                (out, out.where("kind = 0").select("id", F.col("val").alias("coreness")))
            )
        else:
            peeled = deg.where(F.col("deg") <= k).select("id").persist()
            # the count is not just a safety valve: materializing the
            # frontier cache gives the planner its true (tiny) size, so
            # the decrement join broadcasts it instead of shuffling the
            # full edge table (measured 2 s vs ~10 s per round at 153M
            # edges when the stats are missing)
            n_peeled = peeled.count()
            stats.actions += 1
            stats.supersteps += 1
            if n_peeled == 0:
                # unreachable with the min-degree jump (some vertex always
                # has deg ≤ k = max(k, min_deg)); kept as a safety valve
                k += 1
                peeled.unpersist()
                continue

            pending.append(
                (peeled, peeled.select("id", F.lit(k).cast("long").alias("coreness")))
            )

            # degree decrements: every edge from a peeled vertex to a
            # survivor (reference: torch.unique — KCore_new_v3.py:68-69)
            decr = (
                edges.join(peeled.withColumnRenamed("id", "src"), "src", "left_semi")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.count(F.lit(1)).alias("dec"))
            )
            new_deg = (
                deg.join(peeled, "id", "left_anti")
                .join(decr, "id", "left")
                .select(
                    "id",
                    (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias("deg"),
                )
            )
            new_deg = truncate_lineage(new_deg)  # cut plan + stats growth
            stats.actions += 1

        if len(pending) >= next_flush:
            acc = _flush(acc)
            next_flush *= 2
        alive, min_deg, res_edges, blk_min = _bounds(new_deg)
        release_state(deg)
        deg = new_deg

        if local_cascade and probing_on:
            # refresh this round type's measured peel throughput; on a
            # probe round, flip the incumbent only on a clear (1.3x) win,
            # else back off the next probe exponentially
            rate = (max(prev_alive - alive, 0) + 1) / max(
                time.time() - t_round, 1e-3
            )
            pps[round_mode] = rate
            if probing:
                inc_rate = pps[incumbent]
                if inc_rate is None or rate > 1.3 * inc_rate:
                    incumbent = round_mode
                    stick = 4
                else:
                    stick = min(stick * 2, 64)
                probe_countdown = stick
            else:
                probe_countdown -= 1
        # peel-batch handles stay persisted until their fold (_flush)

        rounds_since_ckpt += 1
        if checkpoint_dir and alive > 0 and rounds_since_ckpt >= checkpoint_every:
            acc = _checkpoint(deg, acc, k)
            rounds_since_ckpt = 0

        # two-phase shrink: re-materialize the survivor edge set once the
        # alive set halves (generalizes PKC frac=0.98 / KCore_big phase 2)
        if alive > 0 and alive < last_shrink * shrink_factor:
            survivors = deg.select("id")
            new_edges = (
                edges.join(survivors.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(survivors.withColumnRenamed("id", "dst"), "dst", "left_semi")
            )
            if local_cascade:
                new_edges = checkpoint_block(new_edges.repartition(n_parts, "blk"))
                stats.actions += 1
            else:
                new_edges = truncate_lineage(new_edges)
            release_state(edges)
            edges = new_edges
            last_shrink = alive
            stats.shrinks += 1
            # a shrink changes both round types' costs — re-probe soon
            probe_countdown = min(probe_countdown, 2)

    acc = _flush(acc)
    if acc is None:
        coreness = spark.createDataFrame([], "id long, coreness long")
    else:
        coreness = acc
    # release_state, not unpersist: after any distributed round deg (and
    # after a shrink, edges) are truncate_lineage frames whose blocks a
    # plain DataFrame.unpersist() silently leaves behind (superstep.py).
    release_state(edges)
    release_state(deg)
    stats.wall_secs = time.time() - t0
    stats.converged = True
    return coreness, stats
