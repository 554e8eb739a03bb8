"""HITS — reference D12 (``TCR/src/demo/HITS.py:14-82``).

Semantics: hub/authority mutual recursion with global L2 normalization each
superstep; fixed iteration cap (50) with an early-out when both score
vectors move less than a threshold (1e-4).

Spark formulation: two join+groupBy-sum passes per superstep (auth from
in-edges of hubs, hub from out-edges of auths) plus one scalar aggregation
for each L2 norm (the reference's global norm is the same driver-side
scalar, ``HITS.py:39-46``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.partitioning import broadcast_max_rows, state_side
from tcr_kcore_spark.superstep import SuperstepStats, propagate_release, run_supersteps


def hits(
    graph: LinkGraph,
    max_iter: int = 50,
    tol: float = 1e-4,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    resume: bool = False,
) -> tuple[DataFrame, SuperstepStats]:
    """Returns ((id, hub, auth), stats) on the directed graph."""
    spark = graph.edges.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # persist the vertex set: every superstep joins it twice (auth and hub
    # zero-fill) — unpersisted, each of those joins re-derived the
    # union+distinct over the whole edge table (2 extra E-scans/superstep)
    verts = graph.vertices().persist()
    bcast = verts.count() <= broadcast_max_rows()
    # HITS gathers over BOTH orientations per superstep (auth from in-edges,
    # hub from out-edges) — the reference keeps CSR *and* CSC for the same
    # reason (``TCR/src/type/CSRCGraph.py:14-56``).  Under the shuffle
    # regime cache each orientation partitioned on its join key so neither
    # pass ever re-exchanges the E-sized table; under broadcast one copy
    # suffices (the state joins are map-side).
    edges = graph.edges.select("src", "dst").repartition(npart, "src").persist()
    if bcast:
        edges_by_dst = edges
    else:
        edges_by_dst = edges.repartition(npart, "dst").persist()
    # no eager counts: superstep 1 materializes the caches en route
    init = verts.select(
        "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"), F.lit(1.0).alias("delta")
    )

    # Per-step caches: each normalized score frame is consumed up to three
    # times within a superstep (the norm action, the opposite-side gather,
    # and the final output join).  Unpersisting right after the norm action
    # (round 2) made every later consumer re-derive the whole E-sized join
    # chain, multiplying the per-superstep edge-join cost ~3x.  Instead the
    # cache is HELD until run_supersteps has materialized the step
    # (truncate_lineage is eager), and released at the start of the next
    # step — so exactly one auth join + one hub join execute per superstep.
    held: list[DataFrame] = []

    def _release_held() -> None:
        for df in held:
            df.unpersist()
        held.clear()

    def _l2_normalize(df: DataFrame, col: str) -> DataFrame:
        df = df.persist()
        held.append(df)
        norm = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col)))).first()[0] or 1.0
        return df.withColumn(col, F.col(col) / F.lit(norm))

    def step(state: DataFrame, i: int) -> DataFrame:
        # caches from step i-1: safe to drop — state is already a
        # materialized (lineage-truncated) scan that no longer reads them
        _release_held()
        hubs = state_side(state.select(F.col("id").alias("src"), "hub"), bcast)
        new_auth = (
            edges.join(hubs, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("auth"))
        )
        new_auth = verts.join(new_auth, "id", "left").select(
            "id", F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth")
        )
        new_auth = _l2_normalize(new_auth, "auth")
        auths = state_side(
            new_auth.select(F.col("id").alias("dst"), F.col("auth").alias("a")), bcast
        )
        new_hub = (
            edges_by_dst.join(auths, "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").alias("hub"))
        )
        new_hub = verts.join(new_hub, "id", "left").select(
            "id", F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub")
        )
        new_hub = _l2_normalize(new_hub, "hub")
        return (
            state.select("id", F.col("hub").alias("old_hub"), F.col("auth").alias("old_auth"))
            .join(new_hub, "id")
            .join(new_auth, "id")
            .select(
                "id",
                "hub",
                "auth",
                F.greatest(
                    F.abs(F.col("hub") - F.col("old_hub")),
                    F.abs(F.col("auth") - F.col("old_auth")),
                ).alias("delta"),
            )
        )

    def converged(prev: DataFrame, new: DataFrame, i: int) -> bool:
        return (new.agg(F.max("delta")).first()[0] or 0.0) <= tol

    state, stats = run_supersteps(
        init,
        step,
        converged,
        max_iter=max_iter,
        # Pinned: _release_held() at step entry is only safe because the
        # incoming state is a materialized bare scan every step.  With
        # truncate_every>1 the chained-lazy state would still reference the
        # held norm caches after they are unpersisted (correct but 3x slow).
        truncate_every=1,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        name="hits",
        resume=resume,
        truncate_init=False,  # init projects the persisted vertex set
    )
    out = propagate_release(state.select("id", "hub", "auth"), state)
    _release_held()
    edges.unpersist()
    verts.unpersist()
    if edges_by_dst is not edges:
        edges_by_dst.unpersist()
    return out, stats
