"""Factored (compressed) graph representation + PageRank over it — the
Spark-first counterpart of the reference's compressed-graph pipeline
(A5 scan: ``TCR/single/compress_test.py:50-100`` loading RePair
rule/element arrays; D15 PR-over-compressed: ``compress_test.py:58-77``,
where grammar-rule nodes accumulate rank from their referrers and forward
it to their expansions).

RePair factors repeated substrings of adjacency lists through grammar
rules.  The DataFrame-native equivalent factors repeated WHOLE
out-neighbor sets through virtual set-nodes:

- ``direct  (src, dst)``        — edges of vertices whose out-set is unique
  (or too large to factor);
- ``owners  (src, vh1, vh2)``   — factored vertices → their set-node;
- ``members (vh1, vh2, dst)``   — ONE copy of each shared out-set.

A PageRank superstep then traverses ``|direct| + |owners| + |members|``
rows instead of ``E``: the set-node is an exact distributive factoring of
the message sum (``Σ_{v∈owners} c_v`` forwarded to every member — exactly
what the reference's rule nodes do with rank), so the scores equal the
uncompressed run up to float-summation regrouping (IEEE addition is not
associative; tests pin max |Δ| < 1e-9, not bit equality).  The
``pagerank_factored_i8`` contract entry hash-checks against the same
unrolled SQL oracle as plain ``pagerank_i8`` through a round-6 bridge,
which a ~1e-9 perturbation could in principle flip at a rounding
boundary; exact identity is not guaranteed and not claimed.

Scale guards:

- only vertices with ``outdeg ≤ max_set_size`` are candidates — bounds the
  per-vertex sort_array/collect to a constant, hubs stay direct (the same
  role as RePair's rule-length bound);
- set identity is a 128-bit key (two independently-seeded ``xxhash64``
  values over the sorted neighbor array, JVM-side) so the owners join
  never shuffles the arrays themselves; a key collision between two
  distinct sets needs ~2^64 distinct sets (birthday) — negligible and
  stated, vs the silent-corruption risk a single 64-bit key would carry
  at 10^12 vertices.

Compression is graph-dependent: code-import graphs (many files importing
the identical hub set) factor well; quasi-random co-occurrence graphs
barely at all.  ``CompressedGraph.ratio`` reports the measured row count
vs E so callers can fall back to the plain path when factoring does not
pay (the reference likewise ships compressed and raw pipelines side by
side).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.partitioning import broadcast_max_rows, state_side
from tcr_kcore_spark.superstep import SuperstepStats, vertex_program


@dataclass
class CompressedGraph:
    """Factored edge tables (see module docstring) plus the originals the
    algorithms need: per-vertex out-degree and the vertex set."""

    direct: DataFrame   # (src, dst)
    owners: DataFrame   # (src, vh1, vh2)
    members: DataFrame  # (vh1, vh2, dst)
    out_deg: DataFrame  # (id, out_deg) — ORIGINAL degrees
    verts: DataFrame    # (id,)
    n_edges: int
    n_rows: int         # |direct| + |owners| + |members|

    @property
    def ratio(self) -> float:
        """Factored rows per original edge (< 1.0 = compression pays)."""
        return self.n_rows / self.n_edges if self.n_edges else 1.0

    def unpersist(self) -> None:
        for df in (self.direct, self.owners, self.members, self.out_deg):
            df.unpersist()


def compress_graph(graph: LinkGraph, max_set_size: int = 256) -> CompressedGraph:
    """Factor identical out-neighbor sets through virtual set-nodes.

    One aggregation builds the candidate (src, sorted-set) table, one
    counts owners per 128-bit set key; vertices in sets shared by ≥ 2
    owners move to the owners/members tables, everything else stays a
    direct edge.  All JVM-side; the only array-valued shuffle carries at
    most ``max_set_size`` longs per candidate vertex."""
    e = graph.edges.select("src", "dst")
    out_deg = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    adj = (
        e.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        .where(F.size("nbrs") <= max_set_size)
    )
    hashed = adj.select(
        "src",
        "nbrs",
        F.xxhash64("nbrs").alias("vh1"),
        F.xxhash64(F.lit(7), "nbrs").alias("vh2"),
    )
    groups = hashed.groupBy("vh1", "vh2").agg(
        F.count(F.lit(1)).alias("n_owners"), F.first("nbrs").alias("nbrs")
    )
    shared = groups.where(F.col("n_owners") >= 2)
    owners = hashed.join(
        shared.select("vh1", "vh2"), ["vh1", "vh2"], "left_semi"
    ).select("src", "vh1", "vh2")
    members = shared.select("vh1", "vh2", F.explode("nbrs").alias("dst"))
    direct = e.join(owners.select("src"), "src", "left_anti")

    for df in (direct, owners, members, out_deg):
        df.persist()
    n_edges = e.count()
    n_rows = direct.count() + owners.count() + members.count()
    return CompressedGraph(
        direct=direct,
        owners=owners,
        members=members,
        out_deg=out_deg,
        verts=graph.vertices(),
        n_edges=n_edges,
        n_rows=n_rows,
    )


def pagerank_factored(
    cg: CompressedGraph,
    iters: int,
    damping: float = 0.85,
    truncate_every: int = 1,
) -> tuple[DataFrame, SuperstepStats]:
    """Fixed-iteration PageRank over the factored representation — D1
    semantics (init 1.0, ``r' = 0.15 + 0.85·Σ r_u/outdeg_u``), equal to
    the plain operator up to float-summation regrouping (the set-node
    factoring is an algebraic regrouping of the same sum; IEEE addition is
    not associative — tests pin max |Δ| < 1e-9, not bit equality).

    Loop discipline mirrors ``pagerank`` so the row reduction actually
    lands as wall-clock: ``damping/outdeg`` is constant-folded into BOTH
    cached fan-in tables at build time (no per-superstep w-join, and the
    state is joined pre-weighted so its subplan is not executed twice),
    and both tables are hash-partitioned ONCE for the whole loop via the
    same regime rule as plain edges (broadcast regime: partition for the
    downstream aggregation; shuffle regime: partition by ``src`` so the
    per-superstep exchange is the V-row state meeting the cached tables,
    never the tables themselves).  The per-set sums (≤ one row per shared
    set) broadcast to the members fan-out when they fit."""
    w = cg.out_deg.select(
        F.col("id").alias("src"), (F.lit(damping) / F.col("out_deg")).alias("w")
    )
    with vertex_program(verts=cg.verts, edges=cg.direct.join(w, "src")) as vp:
        owners_w = cg.owners.join(w, "src")
        # broadcast regime: the state join is map-side, so a (vh1, vh2)
        # partitioning survives it and the per-set groupBy needs no exchange;
        # shuffle regime: partition by src so the state exchange meets it.
        owners_w = vp.keep(
            owners_w.repartition("vh1", "vh2") if vp.bcast else owners_w.repartition("src")
        )
        n_sets = owners_w.select("vh1", "vh2").distinct().count()
        vp.edges.count()
        sets_bcast = n_sets <= broadcast_max_rows()

        def step(state: DataFrame, i: int) -> DataFrame:
            s = state_side(state.withColumnRenamed("id", "src"), vp.bcast)
            m_direct = vp.edges.join(s, "src").select(
                F.col("dst").alias("id"), (F.col("w") * F.col("rank")).alias("c")
            )
            # set-node accumulation (the reference's rule-node rank pass):
            # sum the owners' contributions once per set, fan out to members
            v_in = (
                owners_w.join(s, "src")
                .groupBy("vh1", "vh2")
                .agg(F.sum(F.col("w") * F.col("rank")).alias("c"))
            )
            m_set = cg.members.join(
                F.broadcast(v_in) if sets_bcast else v_in, ["vh1", "vh2"]
            ).select(F.col("dst").alias("id"), "c")
            msgs = m_direct.unionByName(m_set).groupBy("id").agg(F.sum("c").alias("msg"))
            msgs_b = F.broadcast(msgs) if vp.bcast else msgs
            return vp.verts.join(msgs_b, "id", "left").select(
                "id",
                (F.lit(1.0 - damping) + F.coalesce(F.col("msg"), F.lit(0.0))).alias("rank"),
            )

        return vp.run(
            vp.verts.select("id", F.lit(1.0).alias("rank")),
            step,
            result=("id", "rank"),
            max_iter=iters,
            name="pagerank_factored",
            truncate_every=truncate_every,
        )
