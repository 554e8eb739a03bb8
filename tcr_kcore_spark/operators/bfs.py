"""BFS — reference D8 (``TCR/src/demo/BFS.py:16-132``).

Reference semantics: pull-based min-distance, init ``inf`` except source=0,
``d'_v = min(d_v, min_{u∈in(v)} d_u + 1)``; terminates when no distance
changes.  The Spark formulation is the classic frontier BFS: the frontier is
the set of vertices first reached last superstep; each superstep is one
(broadcastable) semi-join expansion — distance = superstep index.  Output is
identical to the reference's fixpoint.

Unreachable vertices: distance NULL (the reference leaves them at inf and
its writer prints inf; NULL is our typed equivalent — documented deviation).

Inside the driver-local regime (``superstep.VertexProgram.run``) the same
level-by-level expansion runs in NumPy on the driver (``_bfs_local``) from
one collect of the edge rows, and stops on an empty frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.partitioning import state_side
from tcr_kcore_spark.superstep import LocalProgram, SuperstepStats, vertex_program


def _bfs_local(source: int):
    """BFS on the driver: state ``(dist, frontier)`` over dense indices,
    ``dist = -1`` until reached; superstep ``i`` reaches the unreached
    targets of the frontier's rows at distance ``i + 1``.  A source that
    is not a vertex leaves the frontier empty from the start."""

    def program(ids, s, d) -> LocalProgram:
        import numpy as np
        import pyarrow as pa

        n = ids.shape[0]
        dist = np.full(n, -1, dtype=np.int64)
        at = np.searchsorted(ids, source)
        if at < n and ids[at] == source:
            dist[at] = 0

        def step(state, i):
            dist, frontier = state
            hit = np.zeros(n, dtype=bool)
            hit[d[frontier[s]]] = True
            new = hit & (dist < 0)
            return np.where(new, i + 1, dist), new

        return LocalProgram(
            (dist, dist == 0),
            step,
            result=lambda state: {"distance": pa.array(state[0], mask=state[0] < 0)},
            halt=lambda state: not state[1].any(),
        )

    return program


def bfs(
    graph: LinkGraph,
    source: int,
    max_iter: int = 200,
    directed: bool | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    resume: bool = False,
) -> tuple[DataFrame, SuperstepStats]:
    """Returns ((id, distance), stats).  ``directed=None`` follows the
    graph's own directedness (the reference BFS gathers over in-edges of a
    directed CSC, i.e. traverses directed edges forward)."""
    g = graph if (directed is None or directed == graph.directed) else (
        graph.undirected_view() if not directed else graph
    )
    with vertex_program(g) as vp:

        def step(state: DataFrame, i: int) -> DataFrame:
            frontier = state.where("frontier").select(F.col("id").alias("src"))
            reached = (
                vp.edges.join(state_side(frontier, vp.bcast), "src", "left_semi")
                .select(F.col("dst").alias("id"))
                .distinct()
                .withColumn("hit", F.lit(True))
            )
            return (
                state.join(F.broadcast(reached) if vp.bcast else reached, "id", "left")
                .select(
                    "id",
                    F.coalesce(
                        F.col("dist"),
                        F.when(F.col("hit"), F.lit(i + 1).cast("long")),
                    ).alias("new_dist"),
                    "dist",
                )
                .select(
                    "id",
                    F.col("new_dist").alias("dist"),
                    (F.col("new_dist").isNotNull() & F.col("dist").isNull()).alias(
                        "frontier"
                    ),
                )
            )

        # state: (id, dist, frontier) — frontier = reached exactly last step
        return vp.run(
            vp.verts.select(
                "id",
                F.when(F.col("id") == source, F.lit(0)).cast("long").alias("dist"),
                (F.col("id") == source).alias("frontier"),
            ),
            step,
            halt=(F.sum(F.col("frontier").cast("long")).alias("n"), lambda row: not row["n"]),
            result=("id", F.col("dist").alias("distance")),
            local=_bfs_local(source),
            max_iter=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            name="bfs",
            resume=resume,
        )
