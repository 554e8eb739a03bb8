"""Strongly connected components — directed-graph completeness beyond the
reference's undirected WCC (``TCR/src/demo/ConnectedComponents.py:19-56``).

The corpus dependency graph is DIRECTED (file A imports file B), and its
canonical directed-analytics query is import-cycle detection: files in a
nontrivial SCC form a circular-import group.  Contract, mirroring WCC:
``scc_id = min vertex id of the component`` — exactly what the
closed-form oracle (min mutually reachable id, a recursive CTE) computes,
independent of round structure.

Algorithm: forward-backward coloring (the MapReduce/Pregel-standard
FW-BW-MultiPivot shape, e.g. Yan et al., Pregel+ SCC), two HashMin
labellings per outer round over the live subgraph:

- ``f(v)`` = min id that REACHES v — min-label propagation along edge
  direction (``l'_dst = min(l_dst, min_src l_src)``);
- ``b(v)`` = min id REACHABLE FROM v — the same on reversed edges.

``f(v) == b(v) == p`` ⇔ p reaches v and v reaches p ⇔ v ∈ SCC(p), and p
is then the component minimum.  Both labels are constant across an SCC,
so whole components finish together; the globally minimal live vertex
always satisfies f == b == itself, so every outer round retires ≥ 1
component and the loop terminates.  Unassigned vertices continue on the
induced live subgraph.

Scale shape: both labellings run as ONE joint fixpoint over a state with
one row per ``(id, dir)`` (``dir = 0`` along the live edges, ``dir = 1``
along them reversed) and one union edge table of both directions,
partitioned once per outer round on ``(src, dir)`` — ``(dst, dir)`` when
the V-row state broadcasts; the regime is picked through
``broadcast_max_rows``/``state_side`` like every other operator's.  Every
message, apply and shortcut join is keyed by ``(…, dir)``, so the
directions stay independent but share each Spark job, and no per-round
exchange is proportional to E.  Both per-direction change counts ride the
materialization job (``ObservedConvergence``).  ``stats.supersteps``
grows per joint round by the number of directions still active: trim
levels plus each direction's own rounds, as two sequential fixpoints
count.  Retired vertices get no per-level frame: trim singletons none at
all, coloring rounds one ``(id, scc_id)`` frame each, and the result is
one truncation of ``verts ⟕ retired`` with ``coalesce(scc_id, id)``.
Outer rounds = the pivot-chain depth of the condensation (small for real
graphs; ``max_outer`` guards the adversarial chain).
"""

from __future__ import annotations

import time
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.partitioning import broadcast_max_rows, state_side
from tcr_kcore_spark.superstep import (
    ObservedConvergence,
    SuperstepStats,
    release_state,
    truncate_lineage,
)

# propagation directions of the joint fixpoint: 0 along edges, 1 against
_DIRS = (0, 1)


def _lowered(col: str, cand: str):
    """``col`` lowered to ``cand`` where that is smaller (null: unchanged)."""
    return F.least(F.col(col), F.coalesce(F.col(cand), F.col(col))).alias(col)


def _joint_fixpoint(
    live_v: DataFrame,
    live_e: DataFrame,
    bcast: bool,
    stats: SuperstepStats,
    max_iter: int,
) -> tuple[DataFrame, bool]:
    """Both HashMin labellings at once: returns ((id, dir, lab), converged)
    with lab(v, 0) = min({v} ∪ {u : u reaches v}) and lab(v, 1) =
    min({v} ∪ {u : v reaches u}) over ``live_e``.  Frontier-pruned,
    lineage-truncated per round (caller releases the returned frame).  A
    direction whose round changed nothing keeps an empty frontier and is
    no longer counted in ``stats.supersteps``.

    r6: each round chains one edge-hop with one SHORTCUT —
    ``lab ← min(lab, lab(lab))`` (pointer jumping, keyed by ``dir`` so a
    label jumps only within its direction).  (A second jump per round left
    round counts IDENTICAL on the 100k-file corpus — the residual rounds
    are wavefront-limited — while paying an extra V ⋈ V join; reverted.)
    The shortcut is sound because the invariant "lab(v) is an id that
    reaches v" (backward: "that v reaches") is preserved by both steps (if
    u = lab(v) reaches v and w = lab(u) reaches u then w reaches v), and at
    the hashmin fixpoint the shortcut is a no-op (reach⁻(min-reacher(v)) ⊆
    {v} ∪ reach⁻(v)), so the combined fixpoint equals the hashmin
    fixpoint.  Where labels form chains the distance covered per round
    roughly doubles — a permuted 64-cycle converges in ~9 rounds per
    direction vs 64 one-hop rounds.  Worst case: on a ring whose ids run
    AGAINST the propagation direction no chains form and that direction
    still pays O(diameter) rounds; only edge-set doubling (not scale-safe)
    could beat the wavefront.  The shortcut join is V ⋈ V, never E-sized.

    r6 (ADVICE #1): the flag reports whether both directions reached a
    round with no change; labels left by ``max_iter`` with changes
    outstanding are NOT the reachability minima and must not retire."""
    npart = int(live_e.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    # the plan_superstep_edges layout with ``dir`` added to the key: the
    # cached E-row side is never re-exchanged by the superstep joins
    rev = live_e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    edges = (
        live_e.withColumn("dir", F.lit(0))
        .unionByName(rev.withColumn("dir", F.lit(1)))
        .repartition(npart, "dst" if bcast else "src", "dir")
        .persist()
    )
    state = live_v.select(
        "id", F.explode(F.array(*[F.lit(d) for d in _DIRS])).alias("dir")
    ).select("id", "dir", F.col("id").alias("lab"), F.lit(True).alias("chg"))
    oc = ObservedConvergence()
    active = dict.fromkeys(_DIRS, True)
    for _ in range(max_iter):
        t = time.time()
        frontier = state_side(
            state.where("chg").select(F.col("id").alias("src"), "dir", "lab"), bcast
        )
        msgs = (
            edges.join(frontier, ["src", "dir"])
            .groupBy(F.col("dst").alias("id"), "dir")
            .agg(F.min("lab").alias("m"))
        )
        hop = (
            state.join(F.broadcast(msgs) if bcast else msgs, ["id", "dir"], "left")
            .select("id", "dir", _lowered("lab", "m"), F.col("lab").alias("prev"))
            .persist()  # lazy: two consumers inside the one truncation job
        )
        jump = hop.select(F.col("id").alias("lab"), "dir", F.col("lab").alias("l2"))
        new = (
            hop.join(jump, ["lab", "dir"], "left")
            .select("id", "dir", _lowered("lab", "l2"), "prev")
            .select("id", "dir", "lab", (F.col("lab") < F.col("prev")).alias("chg"))
        )
        counts = [
            F.sum(((F.col("dir") == d) & F.col("chg")).cast("long")).alias(f"n{d}")
            for d in _DIRS
        ]
        new = truncate_lineage(oc.attach(new, *counts))
        hop.unpersist()
        release_state(state)
        state = new
        stats.supersteps += sum(active.values())
        row = oc.take()
        active = {d: active[d] and bool(row[f"n{d}"]) for d in _DIRS}
        stats.history.append(round(time.time() - t, 3))
        if not any(active.values()):
            break
    edges.unpersist()
    return state, not any(active.values())


def scc(
    graph: LinkGraph, max_outer: int = 64, max_inner: int = 200
) -> tuple[DataFrame, SuperstepStats]:
    """Returns ((id, scc_id), stats) on the DIRECTED graph; scc_id = min
    vertex id of the strongly connected component (singletons map to
    themselves).  ``stats.outer_rounds`` counts coloring rounds,
    ``stats.supersteps`` the trim levels plus each direction's
    min-propagation rounds, and ``stats.history`` holds one wall time per
    trim level and per joint coloring round."""
    stats = SuperstepStats()
    t0 = time.time()
    verts = graph.vertices().persist()
    n_live = verts.count()
    bcast = n_live <= broadcast_max_rows()
    live_e = truncate_lineage(
        graph.edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    )
    live_v: DataFrame | None = None  # the live vertex set entering coloring
    retired: list[DataFrame] = []  # (id, scc_id), one frame per coloring round
    oc = ObservedConvergence()

    def _abort(msg: str, *frames: DataFrame) -> None:
        """Release every cached frame of the loop, then raise."""
        for df in (live_v, live_e, *retired, *frames):
            if df is not None:
                release_state(df)
        verts.unpersist()
        raise RuntimeError(msg)

    def _counted(df: DataFrame) -> tuple[DataFrame, int]:
        """Truncate ``df``; its row count rides the materialization job."""
        df = truncate_lineage(oc.attach(df, F.count(F.lit(1)).alias("n")))
        return df, oc.take()["n"]

    def _edges_among(ids: DataFrame, how: str) -> DataFrame:
        """Live edges with both endpoints in (``left_semi``) or neither
        endpoint in (``left_anti``) ``ids``."""
        return truncate_lineage(
            live_e.join(ids.withColumnRenamed("id", "src"), "src", how)
            .join(ids.withColumnRenamed("id", "dst"), "dst", how)
            .select("src", "dst")
        )

    while n_live > 0 and stats.outer_rounds < max_outer:
        stats.outer_rounds += 1
        # -- trim phase: a vertex with no live in-edge or no live out-edge
        # is on no cycle ⇒ a singleton SCC.  Iterating this peels the
        # acyclic part (most of a real dependency graph) with one cheap
        # semi-join per level — the FW-BW "trim" step — so coloring only
        # runs where every vertex has in-deg ≥ 1 AND out-deg ≥ 1.  Live
        # edges only join live vertices, so the kept set is read off the
        # edges alone; trimmed vertices get scc_id = id at the end.
        # (r6 note: chaining trim levels lazily into one job was reverted —
        # racing AQE stages re-evaluate the lazily persisted intermediates,
        # blowing the work up exponentially with chain depth.)
        while True:
            t = time.time()
            ends = [live_e.select(F.col(c).alias("id")).distinct() for c in ("dst", "src")]
            keep, n_keep = _counted(ends[0].join(ends[1], "id", "left_semi"))
            stats.supersteps += 1
            settled = n_keep in (0, n_live)
            if not settled:
                new_e = _edges_among(keep, "left_semi")
                release_state(keep)
                release_state(live_e)
                live_e = new_e
            n_live = n_keep
            stats.history.append(round(time.time() - t, 3))
            if settled:
                break
        if n_live == 0:
            release_state(keep)
            break
        live_v = keep
        state, ok = _joint_fixpoint(live_v, live_e, bcast, stats, max_inner)
        if not ok:
            # ADVICE r5 (high): retiring f == b vertices computed from
            # UNCONVERGED labels can split an SCC and silently mislabel the
            # remainder as singletons.  Refuse rather than corrupt.
            _abort(
                "scc: min-label propagation hit max_inner="
                f"{max_inner} before converging (outer round "
                f"{stats.outer_rounds}); raise max_inner",
                state,
            )
        # every live id has one row per direction: f == b ⇔ min == max
        fb = state.groupBy("id").agg(F.min("lab").alias("lo"), F.max("lab").alias("hi"))
        done, n_done = _counted(
            fb.where(F.col("lo") == F.col("hi")).select("id", F.col("lo").alias("scc_id"))
        )
        release_state(state)
        if n_done == 0:
            _abort("scc made no progress (impossible: min live "
                   "vertex always satisfies f == b)", done)
        retired.append(done)
        release_state(live_v)
        live_v, n_live = None, n_live - n_done
        if n_live:
            new_e = _edges_among(done, "left_anti")
            release_state(live_e)
            live_e = new_e
    if n_live > 0:
        # ADVICE r5 (low): a silently partial labeling (live vertices absent
        # from the result) is worse than failing loudly.
        _abort(
            f"scc: max_outer={max_outer} exhausted with {n_live} vertices "
            "unlabeled; raise max_outer"
        )
    release_state(live_e)
    labels, scc_id = verts, F.col("id")
    if retired:
        labels = verts.join(reduce(DataFrame.unionByName, retired), "id", "left")
        scc_id = F.coalesce(F.col("scc_id"), scc_id)
    out = truncate_lineage(labels.select("id", scc_id.alias("scc_id")))
    for df in retired:
        release_state(df)
    verts.unpersist()
    stats.wall_secs = time.time() - t0
    stats.converged = True
    return out, stats


def condensation(scc_labels: DataFrame, edges: DataFrame) -> DataFrame:
    """SCC condensation DAG: distinct (src_scc, dst_scc) pairs between
    DIFFERENT components — two hash joins + distinct.  On the corpus
    graph this is the acyclic import structure after collapsing each
    circular-import group."""
    s = scc_labels
    return (
        edges.join(s.select(F.col("id").alias("src"), F.col("scc_id").alias("src_scc")), "src")
        .join(s.select(F.col("id").alias("dst"), F.col("scc_id").alias("dst_scc")), "dst")
        .where(F.col("src_scc") != F.col("dst_scc"))
        .select("src_scc", "dst_scc")
        .distinct()
    )
