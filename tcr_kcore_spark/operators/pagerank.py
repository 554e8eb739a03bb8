"""PageRank — reference semantics D1/D2/D3 (SURVEY.md §2.D).

Exact semantics reproduced:

- init ``r = 1`` for every vertex (NOT 1/N) — ``TCR/src/demo/PageRank.py:27``;
- update ``r' = 0.15 + 0.85 · Σ_{u∈in(v)} r_u / outdeg_u`` —
  ``TCR/src/demo/PageRank.py:57``;
- optional dangling mass: ``r' = 0.15 + 0.85 · (Σ ... + Σ_{d: outdeg_d=0} r_d / N)``
  — the SpMV variant ``TCR/src/demo/PageRankMatrix.py:50-61``;
- convergence: ``max_v |r'_v − r_v| ≤ tol`` (reference ``UPDATE_THRESHOLD``,
  ``PageRank.py:29``; we default tol=1e-6 per BASELINE.json).

Spark-first design:

- the message weight ``w = damping / outdeg`` is **folded into each
  vertex's state once** (the reference folds 0.85 into 1/outdeg the same
  way, ``TCR/single/PR.py:30``), so the supersteps read the graph's shared
  ``(src, dst)`` layout with no per-call weighted edge copy, and each is
  exactly one join + one aggregation + one outer join:
  ``edges ⋈ state(w, r) on src → groupBy(dst).sum(w·r) → state ⟕ msgs``;
- the groupBy(dst) aggregation gets map-side partial aggregation from
  Tungsten automatically, which is what neutralizes in-degree hubs (the
  reference needs Gemini/LPT partitioners for the same skew, SURVEY §2.C);
- sums accumulate in float64 (Spark `double`) so allclose(1e-6) holds even
  though the reference accumulates float32;
- the state is double-buffered + checkpointed by the superstep driver.

Inside the driver-local regime (``superstep.VertexProgram.run``) pagerank
and ppr run the same supersteps in NumPy on the driver (``_rank_local``)
from one collect of the edge rows: the same ``w``, base term and dangling
mass, and the same ``max|Δ| ≤ tol`` test every ``truncate_every`` steps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.partitioning import state_side
from tcr_kcore_spark.superstep import LocalProgram, SuperstepStats, vertex_program


def _rank_init(vp, graph: LinkGraph, damping: float, keep: tuple, rank) -> DataFrame:
    """The init state ``(id, *keep, w, rank, delta)``: each vertex carries
    its message weight ``w = damping/outdeg`` (D3 trick: no per-step
    weight join; NULL on a vertex with no out-edges, which sends no
    message).  ``delta`` is a placeholder so the init has the steps'
    schema (a resumed checkpoint is checked against it)."""
    w = graph.out_degree_table().select(
        "id", (F.lit(damping) / F.col("out_deg")).alias("w")
    )
    return vp.verts.join(w, "id", "left").select(
        "id", *keep, "w", rank.alias("rank"), F.lit(1.0).alias("delta")
    )


def _rank_step(vp, base, keep: tuple = (), mass=None):
    """The PageRank superstep ``rank' = base + Σ_{u∈in(v)} w_u·rank_u``
    (plus ``mass(state)``, a driver-side scalar, when given), carrying the
    state columns ``keep`` and ``w`` and ``delta = |rank' − rank|``.
    Apply via ONE outer join: the state already has one row per vertex, so
    state ⟕ msgs yields both the new rank and the old one for the delta."""

    def step(state: DataFrame, i: int) -> DataFrame:
        # only (src, w, rank) crosses to the message join — the state's
        # delta column from the previous step stays out of the broadcast
        s = state.select(F.col("id").alias("src"), "w", "rank")
        msgs = (
            vp.edges.join(state_side(s, vp.bcast), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("w") * F.col("rank")).alias("msg"))
        )
        new_rank = base + F.coalesce(F.col("msg"), F.lit(0.0))
        if mass is not None:
            new_rank = new_rank + F.lit(mass(state))
        msgs_b = F.broadcast(msgs) if vp.bcast else msgs
        return state.join(msgs_b, "id", "left").select(
            "id",
            *keep,
            "w",
            new_rank.alias("rank"),
            F.abs(new_rank - F.col("rank")).alias("delta"),
        )

    return step


def _rank_local(damping: float, done, dangling: bool = False, reset=None):
    """``_rank_init`` + ``_rank_step`` on the driver: ``w = damping/outdeg``
    per row's source (a vertex with no rows sends nothing and is dangling),
    ``rank' = base + Σ w·rank`` (+ the dangling mass), and the halt test
    ``done(max|Δ|)``.  ``reset(ids)`` gives ppr's reset vector ``p``
    (``rank₀ = p``, ``base = (1−d)·p``); None is plain pagerank
    (``rank₀ = 1``, ``base = 1−d``)."""

    def program(ids, s, d) -> LocalProgram:
        import numpy as np

        n = ids.shape[0]
        out_deg = np.bincount(s, minlength=n)
        w = damping / np.maximum(out_deg, 1)
        sinks = out_deg == 0
        if reset is None:
            base, rank = 1.0 - damping, np.ones(n)
        else:
            p = reset(ids)
            base, rank = (1.0 - damping) * p, p

        def step(state, i):
            rank = state[0]
            new = base + np.bincount(d, weights=(w * rank)[s], minlength=n)
            if dangling:
                new = new + damping * (rank[sinks].sum() / n)
            return new, np.abs(new - rank)

        return LocalProgram(
            (rank, None),
            step,
            result=lambda state: {"rank": state[0]},
            halt=lambda state: done(state[1].max(initial=0.0)),
        )

    return program


def pagerank(
    graph: LinkGraph,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    dangling: bool = False,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    resume: bool = False,
    truncate_every: int = 1,
) -> tuple[DataFrame, SuperstepStats]:
    """Returns ((id, rank), stats).  ``dangling=True`` selects the
    PageRankMatrix semantics (D2); ``False`` the plain GAS demo (D1).

    ``truncate_every``: supersteps chained lazily per Spark job (see
    run_supersteps); forced to 1 when ``dangling`` (the per-step dangling
    mass is a driver-side action and must see a materialized state)."""
    if dangling:
        truncate_every = 1
    # the edge layout is the graph's: on a materialized graph it is
    # partitioned once and shared by every call
    with vertex_program(graph) as vp:
        mass = None
        if dangling:

            def mass(state: DataFrame) -> float:
                # msg already carries the damping factor (folded into w);
                # only the dangling mass (vertices with no out-edges, so
                # no w) still needs damping applied
                row = state.where(F.col("w").isNull()).agg(F.sum("rank")).first()
                return damping * ((row[0] or 0.0) / vp.n)

        def done(max_delta: float) -> bool:
            return max_delta <= tol

        return vp.run(
            _rank_init(vp, graph, damping, (), F.lit(1.0)),
            _rank_step(vp, F.lit(1.0 - damping), mass=mass),
            halt=(F.max("delta").alias("d"), lambda row: done(row["d"] or 0.0)),
            result=("id", "rank"),
            local=_rank_local(damping, done, dangling),
            max_iter=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            name="pagerank",
            resume=resume,
            truncate_every=truncate_every,
        )


def pagerank_fixed_iters(
    graph: LinkGraph,
    iters: int,
    damping: float = 0.85,
    dangling: bool = False,
    truncate_every: int = 1,
) -> DataFrame:
    """Fixed-iteration PageRank (reference demos run a fixed ``num_iter``,
    e.g. 50 at ``TCR/src/demo/PageRank.py:24``).  Used by the oracle-checked
    query entries where an unrolled-SQL oracle must run the identical number
    of rounds."""
    result, _ = pagerank(
        graph,
        damping=damping,
        tol=-1.0,
        max_iter=iters,
        dangling=dangling,
        truncate_every=truncate_every,
    )
    return result


def personalized_pagerank(
    graph: LinkGraph,
    seeds,
    damping: float = 0.85,
    tol: float = -1.0,
    max_iter: int = 8,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    resume: bool = False,
    truncate_every: int = 1,
) -> tuple[DataFrame, SuperstepStats]:
    """Personalized PageRank: ``r' = (1−d)·p + d·Σ_{u∈in(v)} r_u/outdeg_u``
    with the reset distribution ``p`` uniform over the distinct ``seeds``
    (a DataFrame with an ``id`` column, or an iterable of vertex ids; a
    repeated seed counts once) and ``r₀ = p`` —
    the seed-relative relevance vector used for related-item retrieval
    over link graphs.  The reference has no PPR; this reuses the plain
    PageRank plan unchanged (damping/outdeg folded into the state, the
    graph's edge layout, one join + one aggregation + one outer join per
    superstep) — only the base term and the init differ, so every scale
    property of D1/D3 carries over.  ``tol <= 0`` runs exactly
    ``max_iter`` supersteps (the SQL-oracle-pinned mode); ``tol > 0``
    stops at max |Δr| ≤ tol."""
    spark = graph.edges.sparkSession
    if isinstance(seeds, DataFrame):
        seeds = seeds.select("id").distinct()
        seed_ids, k = None, seeds.count()
    else:
        seed_ids = list(dict.fromkeys(int(s) for s in seeds))
        seeds = spark.createDataFrame([(s,) for s in seed_ids], "id long")
        k = len(seed_ids)
    if k == 0:
        raise ValueError("personalized_pagerank needs at least one seed")
    verts, n = graph.vertex_set()
    verts_p = verts.join(
        seeds.select("id", F.lit(1.0 / k).alias("p")), "id", "left"
    ).select("id", F.coalesce("p", F.lit(0.0)).alias("p"))

    def reset(ids):
        """``p`` over the driver-local program's ids (a DataFrame of seeds
        is collected here, only in that regime)."""
        import numpy as np

        want = seed_ids
        if want is None:
            want = seeds.select("id").toArrow().column("id").to_numpy()
        return np.where(np.isin(ids, want), 1.0 / k, 0.0)

    def done(max_delta: float) -> bool:
        return tol > 0 and max_delta <= tol

    with vertex_program(graph, verts_p, n=n) as vp:
        # carry the reset probability in the state so the apply phase is ONE
        # outer join (state ⟕ msgs) instead of verts_p ⟕ msgs ⋈ state
        return vp.run(
            _rank_init(vp, graph, damping, ("p",), F.col("p")),
            _rank_step(vp, F.lit(1.0 - damping) * F.col("p"), keep=("p",)),
            halt=(F.max("delta").alias("d"), lambda row: done(row["d"] or 0.0)),
            result=("id", "rank"),
            local=_rank_local(damping, done, reset=reset),
            max_iter=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            name="ppr",
            resume=resume,
            truncate_every=truncate_every,
        )
