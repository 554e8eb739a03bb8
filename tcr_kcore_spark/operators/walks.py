"""Deterministic random-walk sampling — the embedding-training corpus
generator (DeepWalk / node2vec with p = q = 1: unbiased walks).

A 100 TB training pipeline samples walk corpora from the link graph to
train node/file embeddings; this is the graph-side op that feeds the
similarity/ANN stack (functions/similarity.py).  The walk is FULLY
deterministic — the step choice is ``md5(walk_id:step:seed)`` reduced mod
the current vertex's out-degree — so runs are reproducible, resumable,
and cross-engine checkable (md5 is computable in DuckDB too; the driver
entry hash-checks the ENTIRE walk corpus against an unrolled SQL oracle,
unlike sampling ops that can only be property-tested).

Spark shape: one neighbor-index build per graph — each vertex's
neighbors numbered 0..deg-1 in dst order via the HUB-SAFE distributed
zipWithIndex pattern (``neighbor_index``: range-partition + vectorized
per-partition cumcount + driver-reconstructed boundary carries; no task
ever holds a hub's full adjacency, unlike a row_number window partitioned
by src) — then each step is two hash joins: state ⋈ degree (compute the
choice), state ⋈ index on (vertex, choice) (follow the edge).  State is
lineage-truncated per step (superstep.truncate_lineage).

Walks stop early at sinks (vertices with no out-edges): the inner degree
join drops them — on symmetrized graphs every vertex has out-degree ≥ 1,
so walks always reach full length there.

Reference: TCR-KCore has no sampling op (GPU GAS kernels only); this is
pipeline breadth the task sheet's training-data mandate adds on top of
SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.superstep import SuperstepStats, truncate_lineage


def neighbor_index(edges: DataFrame, n_parts: int | None = None) -> DataFrame:
    """(src, dst, i): each vertex's out-neighbors numbered 0..deg-1 in dst
    order — HUB-SAFE.  A ``row_number`` window partitioned by src puts a
    vertex's whole adjacency in one task (a 10^8-degree hub serializes one
    task sorting 10^8 rows); this builds the same numbering with the
    distributed zipWithIndex pattern instead (the range-partition and
    driver-offset layout of ``plans.partitioning.dense_index``, plus
    per-src carries): range-partition by (src, dst), a vectorized
    per-partition groupby-cumcount with cross-Arrow-batch carries, then
    driver-reconstructed offsets for the ≤ #partitions srcs
    that straddle a partition boundary (range partitioning makes a
    continuing src the FIRST src of every later partition it touches, so
    only (pid, first_src) pairs need a carry).  Driver data is
    O(#partitions), worker memory is one Arrow batch — no task ever holds
    a hub's full adjacency."""
    spark = edges.sparkSession
    nparts = int(n_parts or spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = edges.select("src", "dst").repartitionByRange(
        nparts, "src", "dst"
    ).sortWithinPartitions("src", "dst")

    def _cumcount(pit):
        carry_src, carry_n = None, 0
        for pdf in pit:
            if len(pdf) == 0:
                continue
            pos = pdf.groupby("src", sort=False).cumcount().to_numpy()
            src_np = pdf["src"].to_numpy()
            if carry_src is not None:
                pos = pos + (src_np == carry_src) * carry_n
            carry_src = int(src_np[-1])
            carry_n = int(pos[src_np == carry_src].max()) + 1
            pdf = pdf.assign(i=pos)
            yield pdf[["src", "dst", "i"]]

    counted = ranged.mapInPandas(_cumcount, "src long, dst long, i long").persist()
    # per-partition boundary tallies: the min/max (src, dst) row identifies
    # the partition's first/last src; counts for boundary srcs only
    parts = (
        counted.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.min(F.struct("src", "dst")).alias("lo"),
            F.max(F.struct("src", "dst")).alias("hi"),
        )
        .collect()
    )
    boundary = sorted({r["lo"]["src"] for r in parts} | {r["hi"]["src"] for r in parts})
    bc = (
        counted.where(F.col("src").isin(boundary))
        .groupBy(F.spark_partition_id().alias("pid"), "src")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_of = {(r["pid"], r["src"]): r["n"] for r in bc}
    order = sorted(parts, key=lambda r: (r["lo"]["src"], r["lo"]["dst"]))
    offsets, seen = [], {}
    for r in order:
        fs = r["lo"]["src"]
        offsets.append((r["pid"], fs, seen.get(fs, 0)))
        for s in ({fs, r["hi"]["src"]}):
            seen[s] = seen.get(s, 0) + n_of.get((r["pid"], s), 0)
    off_df = spark.createDataFrame(offsets, "pid int, fsrc long, off long")
    out = (
        counted.withColumn("pid", F.spark_partition_id())
        .join(F.broadcast(off_df), "pid")
        .select(
            "src",
            "dst",
            (
                F.col("i")
                + F.when(F.col("src") == F.col("fsrc"), F.col("off")).otherwise(0)
            ).alias("i"),
        )
    )
    out = truncate_lineage(out)
    counted.unpersist()
    return out


def _choice(walk_id_col, step: int, seed: int):
    """Deterministic 32-bit choice value: first 8 hex chars of
    md5("<walk_id>:<step>:<seed>") as an integer — bit-identical in
    DuckDB via CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)."""
    s = F.concat_ws(":", walk_id_col, F.lit(step), F.lit(seed))
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def random_walks(
    graph: LinkGraph,
    length: int = 4,
    walks_per_vertex: int = 1,
    seed: int = 42,
) -> tuple[DataFrame, SuperstepStats]:
    """(walk_id, step, vertex) for ``walks_per_vertex`` walks of
    ``length`` steps from EVERY vertex; walk_id = vertex_id *
    walks_per_vertex + replica.  Deterministic in (graph, seed)."""
    stats = SuperstepStats()
    edges = graph.edges.select("src", "dst").distinct()
    idx = neighbor_index(edges)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).persist()

    W = int(walks_per_vertex)
    state = graph.vertices().select(
        F.explode(
            F.array(*[(F.col("id") * W + r).cast("long") for r in range(W)])
        ).alias("walk_id"),
        F.col("id").alias("cur"),
    )
    out = [state.select("walk_id", F.lit(0).alias("step"), F.col("cur").alias("vertex"))]
    for step in range(1, int(length) + 1):
        chosen = (
            state.join(deg, state.cur == deg.src)
            .select(
                "walk_id", "cur", F.pmod(_choice(F.col("walk_id"), step, seed), F.col("d")).alias("i")
            )
        )
        state = (
            chosen.join(idx, [chosen.cur == idx.src, chosen.i == idx.i])
            .select("walk_id", F.col("dst").alias("cur"))
        )
        state = truncate_lineage(state)
        stats.supersteps += 1
        out.append(
            state.select("walk_id", F.lit(step).alias("step"), F.col("cur").alias("vertex"))
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    # every per-step state is truncated (self-contained blocks), so the
    # index and degree scratch frames can be freed before returning
    from tcr_kcore_spark.superstep import release_state

    release_state(idx)
    deg.unpersist()
    return res, stats


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context, cnt): skip-gram training pairs from a walk corpus
    — every ordered (vertex_at_step_i, vertex_at_step_j) pair within the
    same walk at 0 < |i − j| ≤ ``window``, with multiplicity (the
    word2vec/DeepWalk co-occurrence table a trainer consumes).  One
    self-join on walk_id bounded by the step-distance predicate (walks
    are length-L rows, so the join fan-out per walk is ≤ L·2w — never a
    cross join), then a map-side-combinable count."""
    a = walks.select(
        F.col("walk_id"), F.col("step").alias("si"), F.col("vertex").alias("center")
    )
    b = walks.select(
        F.col("walk_id"), F.col("step").alias("sj"), F.col("vertex").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .where(
            (F.col("si") != F.col("sj"))
            & (F.abs(F.col("si") - F.col("sj")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
