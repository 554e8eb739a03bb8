"""Connected components — reference D10 (SURVEY.md §2.D).

Reference semantics (``TCR/src/demo/ConnectedComponents.py:19-56``): label
initialized to own id; each superstep ``l'_v = min(l_v, min_{u∈N(v)} l_u)``;
iterate while any label changed.  Converges to the **minimum vertex id of the
component** — which is what our results must equal exactly (north_rule).

Two Spark formulations:

- ``mode="hashmin"``: the literal GAS translation — one join + groupBy(min)
  per superstep over the symmetrized edges, with a *frontier*: only vertices
  whose label changed last round propagate (the reference's activation mask,
  ``GASProgram.py:142-149``).  O(diameter) supersteps.
- ``mode="smallstar"`` (large-star/small-star, Kiveris et al. "Finding
  connected components in map-reduce in logarithmic rounds", ICDE 2013 —
  PAPERS.md): alternates two edge-rewriting rounds and converges in
  O(log n) supersteps — the scale path for 100 TB graphs whose diameter is
  large.  Same output contract (min id per component).

Inside the driver-local regime (``superstep.VertexProgram.run``) hashmin
runs the same frontier rounds in NumPy on the driver (``_hashmin_local``),
from one collect of the edge rows, until no label changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.partitioning import state_side
from tcr_kcore_spark.superstep import (
    LocalProgram,
    SuperstepStats,
    propagate_release,
    run_supersteps,
    vertex_program,
)


def connected_components(
    graph: LinkGraph,
    mode: str = "hashmin",
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    resume: bool = False,
) -> tuple[DataFrame, SuperstepStats]:
    """Returns ((id, component), stats); component = min vertex id reachable."""
    g = graph.undirected_view()
    if mode == "hashmin":
        return _hashmin(g, max_iter, checkpoint_dir, checkpoint_every, resume)
    if mode == "smallstar":
        return _alternating_star(g, max_iter, checkpoint_dir, checkpoint_every, resume)
    raise ValueError(f"unknown mode {mode!r}")


def _hashmin_local(ids, s, d) -> LocalProgram:
    """hashmin on the driver: state ``(component, changed)`` over dense
    indices (ids are sorted, so the least index is the least id); each
    round only changed vertices send their component along their rows."""
    import numpy as np

    n = ids.shape[0]

    def step(state, i):
        comp, changed = state
        live = changed[s]
        new = comp.copy()
        np.minimum.at(new, d[live], comp[s[live]])
        return new, new < comp

    return LocalProgram(
        (np.arange(n), np.ones(n, dtype=bool)),
        step,
        result=lambda state: {"component": ids[state[0]]},
        halt=lambda state: not state[1].any(),
    )


def _hashmin(
    g: LinkGraph,
    max_iter: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
) -> tuple[DataFrame, SuperstepStats]:
    with vertex_program(g) as vp:

        def step(state: DataFrame, i: int) -> DataFrame:
            frontier = state.where("changed").select(
                F.col("id").alias("src"), "component"
            )
            msgs = (
                vp.edges.join(state_side(frontier, vp.bcast), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("component").alias("msg"))
            )
            msgs_b = F.broadcast(msgs) if vp.bcast else msgs
            return (
                state.join(msgs_b, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"), F.coalesce(F.col("msg"), F.col("component"))
                    ).alias("new_component"),
                    "component",
                )
                .select(
                    "id",
                    F.col("new_component").alias("component"),
                    (F.col("new_component") < F.col("component")).alias("changed"),
                )
            )

        # state: (id, component, changed) — changed doubles as the frontier mask
        return vp.run(
            vp.verts.select(
                "id", F.col("id").alias("component"), F.lit(True).alias("changed")
            ),
            step,
            halt=(F.sum(F.col("changed").cast("long")).alias("n"), lambda row: not row["n"]),
            result=("id", "component"),
            local=_hashmin_local,
            max_iter=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            name="cc_hashmin",
            resume=resume,
        )


def _alternating_star(
    g: LinkGraph,
    max_iter: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
) -> tuple[DataFrame, SuperstepStats]:
    """Alternating large-star / small-star (ICDE'13).  State is an edge set
    ``(u, v)`` with u > v interpreted as "u points to candidate parent v";
    at fixpoint every u points at its component minimum."""
    # canonical orientation: (hi, lo)
    init = (
        g.edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    isolated = g.vertices()  # re-attached at the end (no isolated ids can
    # appear in init since they have no edges; vertices() derives from edges,
    # so isolated == none here, but keep for future declared-vertex support)

    def large_star(e: DataFrame) -> DataFrame:
        # connect every strict neighbor > min to the neighborhood min (incl self)
        nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("mn"))
        return (
            nbrs.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # within each u's smaller-or-equal neighborhood, link all to the min
        nbrs = e  # already oriented u > v
        m = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
        linked = (
            nbrs.join(m, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(m.select("u", F.col("mn").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        return linked

    def step(state: DataFrame, i: int) -> DataFrame:
        return small_star(large_star(state))

    def converged(prev: DataFrame, new: DataFrame, i: int) -> bool:
        # fixpoint when the edge set is unchanged (both are star graphs)
        if prev.schema != new.schema:
            return False
        diff = prev.unionByName(new).groupBy("u", "v").agg(F.count(F.lit(1)).alias("c"))
        return diff.where("c <> 2").limit(1).count() == 0

    state, stats = run_supersteps(
        init,
        step,
        converged,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        name="cc_smallstar",
        resume=resume,
    )
    parents = state.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = (
        isolated.join(parents, "id", "left_anti")
        .select("id", F.col("id").alias("component"))
    )
    return propagate_release(parents.unionByName(roots), state), stats
