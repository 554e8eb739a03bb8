"""Louvain community detection, phase 1 — reference D14
(``TCR/src/demo/Louvain.py:14-140``).

Reference semantics reproduced:

- every vertex starts in its own community (``Louvain.py:20-21``);
- a vertex moves to the neighbor community with the highest modularity
  gain, but only when that gain exceeds ``MODULARITY_UPDATE_THRESHOLD =
  0.012`` (``Louvain.py:33``);
- the gain formula is the classic two-term ΔQ (``Louvain.py:40-67``):
  ``ΔQ(u→C) = ((Σin + 2·k_i_in)/(2m) − ((Σtot + k_i)/(2m))²)
            − (Σin/(2m) − (Σtot/(2m))² − (k_i/(2m))²)``
  with ``m`` = total edge weight of the symmetric edge table
  (``Louvain.py:30`` sums per-CSR-entry weights, i.e. both directions),
  ``Σin`` = weight of intra-community entries, ``Σtot`` = summed weighted
  degree of the community, ``k_i`` = weighted degree of u, ``k_i_in`` =
  weight from u into C; gain to the OWN community is 0 (``Louvain.py:49``).

Documented deviation: the reference's ``apply`` mutates community state
*sequentially inside the round* (``Louvain.py:85-105`` — each move updates
``community_weights`` before the next vertex is considered), which makes
its result depend on vertex iteration order.  A distributed engine cannot
(and should not) reproduce an iteration-order artifact; this operator makes
all round-``i`` decisions against the round-``i-1`` state (synchronous,
Jaccard-of-GAS semantics — the same choice every published distributed
Louvain makes).  ``tests/oracles.py::louvain_phase1`` implements the
identical synchronous rule in NumPy and the unit tests assert exact
equality per round.

Spark formulation, one round = three joins + three aggregations, all
map-side combinable (no window):

1. ``k_i_in``:  edges ⋈ state(dst) → groupBy(src, comm).sum(w)
2. ``Σtot``:    state ⋈ wdeg → groupBy(comm).sum(k)         (V rows)
3. ``Σin``:     edges ⋈ state(src) ⋈ state(dst), same comm → sum(w)
4. best move per vertex: max(struct(gain, -comm)) with the 0.012 gate.

Community aggregates are V-sized or smaller and broadcast under the same
regime policy as every other operator (plans.partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.partitioning import state_side
from tcr_kcore_spark.superstep import (
    propagate_release,
    SuperstepStats,
    release_state,
    truncate_lineage,
    vertex_program,
)

GAIN_THRESHOLD = 0.012  # reference MODULARITY_UPDATE_THRESHOLD, Louvain.py:33


def louvain_aggregate(
    graph: LinkGraph, communities: DataFrame, weight_col: str = "weight"
) -> DataFrame:
    """Louvain phase 2 — community aggregation
    (``TCR/src/demo/Louvain.py:130-168`` ``community_aggregation``).

    Relabels every (symmetric-table) edge endpoint by its community,
    canonicalizes the pair to (min, max) exactly like the reference
    (``Louvain.py:146-151`` — intra-community edges survive as (c, c)
    self-pairs carrying the internal weight), and sums weights per pair.
    Returns the condensed edge table ``(src, dst, weight)`` with
    src ≤ dst; feed it back through :func:`louvain_phase1` for the next
    level of the full Louvain loop (``Louvain.py:171+``).
    """
    g = graph.undirected_view()
    if weight_col in g.edges.columns:
        e = g.edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
    else:
        e = g.edges.select("src", "dst", F.lit(1.0).alias("w"))
    comm_src = communities.select(
        F.col("id").alias("src"), F.col(communities.columns[1]).alias("cs")
    )
    comm_dst = communities.select(
        F.col("id").alias("dst"), F.col(communities.columns[1]).alias("cd")
    )
    return (
        e.join(comm_src, "src")
        .join(comm_dst, "dst")
        .select(
            F.least("cs", "cd").alias("src"),
            F.greatest("cs", "cd").alias("dst"),
            "w",
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("weight"))
    )


def louvain_phase1(
    graph: LinkGraph,
    max_rounds: int = 10,
    weight_col: str = "weight",
    gain_threshold: float = GAIN_THRESHOLD,
) -> tuple[DataFrame, SuperstepStats]:
    """Returns ((id, community), stats) after synchronous best-gain moves
    until no vertex moves or ``max_rounds``.  Expects an undirected graph
    (symmetric edge table); unweighted edges default to weight 1."""
    g = graph.undirected_view()
    if weight_col in g.edges.columns:
        e = g.edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
    else:
        e = g.edges.select("src", "dst", F.lit(1.0).alias("w"))
    # no eager edge count: the m aggregation right below materializes the
    # edge cache as its first consumer
    with vertex_program(g, edges=e) as vp:
        maybe_b = lambda df: state_side(df, vp.bcast)

        # m = sum of symmetric-table entry weights (reference Louvain.py:30)
        m = vp.edges.agg(F.sum("w")).first()[0]
        two_m = 2.0 * m
        wdeg = vp.edges.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("k"))

        def step(state: DataFrame, i: int) -> DataFrame:
            comm = state.select("id", "comm")
            # community aggregates against the round-(i-1) assignment
            sum_tot = (
                comm.join(maybe_b(wdeg), "id")
                .groupBy("comm")
                .agg(F.sum("k").alias("sum_tot"))
            )
            dst_comm = comm.select(F.col("id").alias("dst"), F.col("comm").alias("dcomm"))
            tagged = vp.edges.join(maybe_b(dst_comm), "dst")
            src_comm = comm.select(F.col("id").alias("src"), F.col("comm").alias("scomm"))
            with_src = tagged.join(maybe_b(src_comm), "src")
            sum_in = (
                with_src.where(F.col("scomm") == F.col("dcomm"))
                .groupBy(F.col("scomm").alias("comm"))
                .agg(F.sum("w").alias("sum_in"))
            )
            # candidate (u, C) pairs: C over neighbor communities of u
            k_i_in = (
                tagged.groupBy(F.col("src").alias("id"), F.col("dcomm").alias("cand"))
                .agg(F.sum("w").alias("k_i_in"))
            )
            cand = (
                k_i_in.join(maybe_b(comm), "id")
                .where(F.col("cand") != F.col("comm"))  # own community: gain 0
                .join(maybe_b(wdeg), "id")
                .join(
                    maybe_b(sum_tot.select(F.col("comm").alias("cand"), "sum_tot")),
                    "cand",
                )
                .join(
                    maybe_b(sum_in.select(F.col("comm").alias("cand"), "sum_in")),
                    "cand",
                    "left",
                )
                .withColumn("sum_in", F.coalesce(F.col("sum_in"), F.lit(0.0)))
            )
            gain = (
                (F.col("sum_in") + 2.0 * F.col("k_i_in")) / two_m
                - F.pow((F.col("sum_tot") + F.col("k")) / two_m, 2)
            ) - (
                F.col("sum_in") / two_m
                - F.pow(F.col("sum_tot") / two_m, 2)
                - F.pow(F.col("k") / two_m, 2)
            )
            best = (
                cand.select("id", "cand", gain.alias("gain"))
                .where(F.col("gain") > gain_threshold)
                .groupBy("id")
                .agg(F.max(F.struct(F.col("gain"), (-F.col("cand")).alias("neg"))).alias("m"))
                .select("id", (-F.col("m.neg")).alias("new_comm"))
            )
            return state.join(maybe_b(best), "id", "left").select(
                "id",
                F.coalesce(F.col("new_comm"), F.col("comm")).alias("comm"),
                (
                    F.col("new_comm").isNotNull() & (F.col("new_comm") != F.col("comm"))
                ).alias("changed"),
            )

        return vp.run(
            vp.verts.select("id", F.col("id").alias("comm"), F.lit(True).alias("changed")),
            step,
            halt=(F.sum(F.col("changed").cast("long")).alias("n"), lambda row: not row["n"]),
            result=("id", F.col("comm").alias("community")),
            max_iter=max_rounds,
            name="louvain_p1",
        )


def louvain(
    graph: LinkGraph,
    max_levels: int = 10,
    max_rounds: int = 10,
    weight_col: str = "weight",
    gain_threshold: float = GAIN_THRESHOLD,
) -> tuple[DataFrame, list[SuperstepStats]]:
    """Full multi-level Louvain — the reference's outer loop
    (``TCR/src/demo/Louvain.py:171+``): phase 1 until no vertex moves, then
    phase 2 community aggregation, repeated on the condensed graph until a
    level produces zero moves (or ``max_levels``).

    Returns ``((id, community), stats_per_level)`` with ``id`` over the
    ORIGINAL vertex set and ``community`` the final top-level community —
    the per-level assignments composed through each condensation (the
    reference likewise re-labels the original vertices through the level
    mapping).  Level-2+ inputs keep the condensed ``(c, c)`` self-weights
    (internal community weight), which ``from_edges`` would drop — so the
    symmetric closure is built here, not via the constructor.
    """
    cur = graph.undirected_view()
    wc = weight_col  # the input graph's weight column; condensed levels use "weight"
    cur_edges: DataFrame | None = None  # truncated handle for level ≥ 2
    mapping: DataFrame | None = None
    all_stats: list[SuperstepStats] = []
    for level in range(max_levels):
        lvl, st = louvain_phase1(
            cur,
            max_rounds=max_rounds,
            weight_col=wc,
            gain_threshold=gain_threshold,
        )
        all_stats.append(st)
        # lvl is already a (released-on-release_state) view over the
        # phase-1 superstep's truncated state — re-truncating here would
        # copy the blocks AND drop the release handles (a leak)
        moved = lvl.where(F.col("community") != F.col("id")).limit(1).count() > 0
        if mapping is None:
            new_mapping = lvl
        else:
            # compose: orig id -> level-(L-1) community -> level-L community
            new_mapping = truncate_lineage(
                mapping.select("id", F.col("community").alias("c")).join(
                    lvl.select(F.col("id").alias("c"), "community"), "c"
                ).select("id", "community")
            )
            release_state(mapping)
        mapping = new_mapping
        if not moved or level == max_levels - 1:
            if mapping is not lvl:
                release_state(lvl)
            break
        # condense (phase 2) and build the next level's symmetric table,
        # keeping (c, c) self-pairs with their internal weight
        condensed = louvain_aggregate(cur, lvl.select("id", "community"), weight_col=wc)
        rev = condensed.where(F.col("src") != F.col("dst")).select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
        next_edges = truncate_lineage(condensed.unionByName(rev))
        if cur_edges is not None:
            release_state(cur_edges)
        if mapping is not lvl:
            release_state(lvl)
        cur_edges = next_edges
        cur = LinkGraph(cur_edges, directed=False)
        wc = "weight"  # condensed levels always carry weights
    if cur_edges is not None:
        release_state(cur_edges)
    return propagate_release(mapping.select("id", "community"), mapping), all_stats
