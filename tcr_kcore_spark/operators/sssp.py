"""Single-source shortest paths (Bellman-Ford) — reference D9
(``TCR/src/demo/ShortestPaths.py:22-67``).

Semantics: ``d'_v = min(d_v, min_{u∈in(v)} d_u + w(u,v))``; the frontier is
the set of vertices whose distance improved (the reference activates
out-neighbors of changed vertices, ``ShortestPaths.py:44-55``).  Each
superstep: frontier ⋈ edges → groupBy(dst).min → conditional apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.partitioning import state_side
from tcr_kcore_spark.superstep import SuperstepStats, vertex_program


def sssp(
    graph: LinkGraph,
    source: int,
    weight_col: str = "weight",
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    resume: bool = False,
) -> tuple[DataFrame, SuperstepStats]:
    """Returns ((id, distance), stats); unreachable = NULL."""
    cols = ["src", "dst"]
    if weight_col in graph.edges.columns:
        edges = graph.edges.select(
            *cols, F.col(weight_col).cast("double").alias("w")
        )
    else:
        edges = graph.edges.select(*cols, F.lit(1.0).alias("w"))
    with vertex_program(graph, edges=edges) as vp:

        def step(state: DataFrame, i: int) -> DataFrame:
            frontier = state.where("changed").select(
                F.col("id").alias("src"), F.col("dist").alias("sdist")
            )
            msgs = (
                vp.edges.join(state_side(frontier, vp.bcast), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(F.col("sdist") + F.col("w")).alias("msg"))
            )
            return (
                state.join(F.broadcast(msgs) if vp.bcast else msgs, "id", "left")
                .select(
                    "id",
                    F.when(
                        F.col("msg").isNotNull()
                        & (F.col("dist").isNull() | (F.col("msg") < F.col("dist"))),
                        F.col("msg"),
                    )
                    .otherwise(F.col("dist"))
                    .alias("new_dist"),
                    "dist",
                )
                .select(
                    "id",
                    F.col("new_dist").alias("dist"),
                    (
                        F.col("new_dist").isNotNull()
                        & (F.col("dist").isNull() | (F.col("new_dist") < F.col("dist")))
                    ).alias("changed"),
                )
            )

        return vp.run(
            vp.verts.select(
                "id",
                F.when(F.col("id") == source, F.lit(0.0)).alias("dist"),
                (F.col("id") == source).alias("changed"),
            ),
            step,
            halt=(F.sum(F.col("changed").cast("long")).alias("n"), lambda row: not row["n"]),
            result=("id", F.col("dist").alias("distance")),
            max_iter=max_iter,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            name="sssp",
            resume=resume,
        )
