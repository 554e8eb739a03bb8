"""Triangle counting + local clustering coefficient — reference D7/D13.

Reference semantics (``TCR/src/demo/TriangleCounting.py:25-80``): per-vertex
triangle count on the undirected graph via A²∘A (dense adjacency on GPU);
global count = Σ/3.  LCC (``LocalClusteringCoeffcient.py:19-112``):
``C_v = 2·tri(v) / (deg_v · (deg_v − 1))``, NaN→0.

Spark formulation — the canonical distributed TC, never a dense matrix.
``edge_support`` is the one distributed enumerator:

1. orient each undirected edge from the lower-(degree, id) endpoint to the
   higher one — every triangle becomes exactly ONE wedge + one closing edge,
   and the wedge join's fan-out is bounded by the *oriented* out-degree
   (≤ O(√E) per vertex), which is the skew control that makes this survive
   hub vertices at 100 TB;
2. wedge join: both edges of a triangle's wedge leave its minimum vertex,
   so wedges are ``O ⋈ O on o1.src = o2.src`` with ``o1.dst < o2.dst``;
3. close the wedge against the oriented edge set: ``(o1.dst, o2.dst) ∈ O``;
4. each triangle found once → credit its three edges (per-edge support).

A vertex lies on two edges of each of its triangles, so the distributed
per-vertex count is half the support summed over its edges; ``ktruss``
recounts support inside the surviving edges every round.

A small graph skips the wedge join: inside the driver-local regime
(``plans.partitioning.local_regime``, the gate kcore uses) its canonical
edges come to the driver in one Arrow collect and ``_triangle_kernel`` runs
steps 1-3 in NumPy and credits the three corners, unless the graph has more
than ``LOCAL_MAX_WEDGES`` oriented wedges.  ``triangle_count`` and
``local_clustering_coefficient`` read ``triangles_per_vertex``, so they
take the same path.  Self-loops close no triangle in either path, and every
vertex of the undirected graph gets a row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph


def _fits_int32(mn, mx) -> bool:
    """Every id in ``[mn, mx]`` fits int32 (False for an empty range)."""
    return mn is not None and mn >= -(2**31) and mx < 2**31


def _canonical(g: LinkGraph) -> DataFrame:
    """The undirected view's edges as canonical ``(a, b)`` rows, a < b
    (self-loops dropped)."""
    return (
        g.undirected_view()
        .edges.where(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    )


# Oriented wedges above which the driver-local kernel declines and the
# distributed wedge join runs instead.  Interleaved fresh-JVM runs on 4
# cores (scripts/bench_local_regime.py, BENCH/local_regime.jsonl): the
# kernel is single-threaded and the wedge join parallel, so the gap
# narrows as wedges grow — local 5.4-6.1 s vs 9.7-10.7 s at 41.1M wedges
# (sf0.1), 12.3-14.5 s vs 17.7-22.5 s at 123.3M (sf0.1 x3).  The cap sits
# below the largest count measured as a local win.
LOCAL_MAX_WEDGES = 100_000_000

# Wedges enumerated per kernel chunk: bounds the kernel's scratch arrays
# (about nine int64 arrays per wedge) to ~150 MB whatever the graph.
_WEDGE_CHUNK = 1 << 21


def _triangle_kernel(src, dst):
    """``solve_local`` kernel: ``(id, triangles)`` on the simple graph of
    the collected rows, with the distributed path's (degree, id)
    orientation.  Vertices are relabelled by their rank in that order, so
    every undirected edge is oriented from its lower to its higher rank
    and each triangle is one wedge at its lowest-rank corner whose legs
    ``u < v`` close by the oriented edge ``u → v``.  Wedges are enumerated
    apex-chunk by apex-chunk (at most ``_WEDGE_CHUNK`` per chunk) and each
    wedge probes its closing key ``u·n + v`` in the sorted key array of the
    oriented edges; within an apex those probe keys ascend.  Returns None
    (decline) when the graph has more than ``LOCAL_MAX_WEDGES`` oriented
    wedges."""
    import numpy as np

    from tcr_kcore_spark.plans.partitioning import simple_pairs

    ids, s, d = simple_pairs(src, dst)
    n = ids.shape[0]
    deg = np.bincount(s, minlength=n) + np.bincount(d, minlength=n)
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n, dtype=np.int64)
    rs, rd = rank[s], rank[d]
    keys = np.sort(np.minimum(rs, rd) * n + np.maximum(rs, rd))
    apex, leg = keys // n, keys % n
    out_deg = np.bincount(apex, minlength=n)
    if int((out_deg * (out_deg - 1) // 2).sum()) > LOCAL_MAX_WEDGES:
        return None
    ptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(out_deg, out=ptr[1:])
    # wedges whose first leg is oriented edge i: its later legs at the apex
    m = keys.shape[0]
    later = ptr[apex + 1] - np.arange(m, dtype=np.int64) - 1
    ends = np.cumsum(later)
    total_wedges = int(ends[-1]) if m else 0
    cuts = np.searchsorted(ends, np.arange(_WEDGE_CHUNK, total_wedges, _WEDGE_CHUNK))
    tri = np.zeros(n, dtype=np.int64)
    for lo, hi in zip(np.concatenate([[0], cuts]), np.concatenate([cuts, [m]])):
        cnt = later[lo:hi]
        total = int(cnt.sum())
        if not total:
            continue
        first = np.repeat(np.arange(lo, hi, dtype=np.int64), cnt)
        stops = np.cumsum(cnt)
        second = first + 1 + np.arange(total, dtype=np.int64) - np.repeat(stops - cnt, cnt)
        u, v = leg[first], leg[second]
        probe = u * n + v
        at = np.minimum(np.searchsorted(keys, probe), m - 1)
        closed = keys[at] == probe
        for corner in (apex[first[closed]], u[closed], v[closed]):
            tri += np.bincount(corner, minlength=n)
    return {"id": ids, "triangles": tri[rank]}


def triangles_per_vertex(g: LinkGraph) -> DataFrame:
    """(id, triangles) — vertices in no triangle get 0.

    A graph inside the driver-local regime
    (``plans.partitioning.local_regime``) with at most ``LOCAL_MAX_WEDGES``
    oriented wedges is counted by ``_triangle_kernel`` on the driver: one
    collect of the canonical edges, no wedge join.  Otherwise the
    distributed wedge join runs.  The result's ``regime`` attribute says
    which ran (``"local"`` or ``"distributed"``).

    Either result is materialized: a local relation, or a
    lineage-truncated frame whose cached blocks
    ``superstep.release_state`` gives back."""
    from tcr_kcore_spark.plans.partitioning import local_regime, solve_local

    und = g.undirected_view()
    if local_regime(und):
        out = solve_local(und.edges, _triangle_kernel, canonical=True)
        if out is not None:
            out.regime = "local"
            return out
    out = _triangles_distributed(g)
    out.regime = "distributed"
    return out


def _triangles_distributed(g: LinkGraph) -> DataFrame:
    """Per-vertex triangles as half the ``edge_support`` summed over each
    vertex's edges, zero-filled over the vertex set and materialized."""
    from tcr_kcore_spark.plans.partitioning import broadcast_max_rows
    from tcr_kcore_spark.superstep import release_state, truncate_lineage

    # one planning action: vertex count (broadcast decision for the final
    # zero-fill) + id range (edge_support's int32 narrowing).  The vertex
    # set is the graph's when it is materialized, else persisted for this
    # call
    verts, n = g.undirected_view().vertex_set()
    per_call = n is None
    if per_call:
        verts = verts.persist()
    vrow = verts.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").alias("mn"),
        F.max("id").alias("mx"),
    ).first()
    sup = edge_support(_canonical(g), narrow_ids=_fits_int32(vrow["mn"], vrow["mx"]))
    per_vertex = (
        sup.select(F.explode(F.array("a", "b")).alias("id"), "support")
        .groupBy("id")
        .agg((F.sum("support") / 2).cast("long").alias("triangles"))
    )
    # the zero-fill join: per_vertex has at most V rows, so under the same
    # V-row regime every superstep operator uses (broadcast_max_rows) it
    # broadcasts — the planner otherwise picks a SortMergeJoin with two
    # exchanges + sorts for this tiny final join (~2 s of the sf0.1 cell)
    if vrow["n"] <= broadcast_max_rows():
        per_vertex = F.broadcast(per_vertex)
    out = verts.join(per_vertex, "id", "left").select(
        "id", F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles")
    )
    # materialize, then free edge_support's oriented table
    out = truncate_lineage(out)
    release_state(sup)
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
    are absent — callers outer-join + coalesce 0).  The engine's one
    distributed triangle enumerator (module docstring).

    ``narrow_ids``: run the wedge join over int32 ids — lossless only when
    every id fits int32, so pass True only when that is known; None decides
    here with one min/max aggregation.  The wedge join and closing probe
    hash and move tens of wedge rows per oriented edge, and halving their
    key width cut ~30% of the triangle cell at sf0.1 (interleaved A/B,
    identical output).  Credits are cast back to long.

    Wedges are oriented by (degree, id), not by id: in id order a
    degree-d hub whose id is locally minimal owns ~d²/2 wedge rows on ONE
    join key, while under degree order the per-vertex wedge fan-out is
    bounded by the oriented out-degree ≤ O(√E).  Each triangle is
    enumerated exactly once (its (degree, id)-minimal corner is the wedge
    apex) and credits its three canonical edges.

    The oriented table feeds both wedge legs and the closing probe, so it
    is persisted: re-derived per consumer, it recomputed the degree
    aggregate six times (AQE reused none of those exchanges).  The result
    is a lazy frame over it; once the result is consumed,
    ``superstep.release_state`` on it frees the table."""
    from tcr_kcore_spark.superstep import propagate_release

    e = edges_canon.select(F.col("a"), F.col("b"))
    if narrow_ids is None:
        row = e.agg(F.min("a").alias("mn"), F.max("b").alias("mx")).first()
        narrow_ids = _fits_int32(row["mn"], row["mx"])
    if narrow_ids:
        e = e.select(F.col("a").cast("int"), F.col("b").cast("int"))
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("id"))
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
    ).persist()
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
    # each closed wedge credits its three edges in ONE generate pass: a
    # three-way union re-runs the wedge join and probe per branch (about 3x
    # the distributed triangle cell at sf0.1)
    credits = tri.select(
        F.inline(
            F.array(
                *(
                    F.struct(F.least(p, q).alias("a"), F.greatest(p, q).alias("b"))
                    for p, q in (("x", "y"), ("x", "z"), ("y", "z"))
                )
            )
        )
    )
    out = credits.groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    if narrow_ids:
        out = out.select(
            F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b"), "support"
        )
    return propagate_release(out, o)


def ktruss(
    graph: LinkGraph, k: int, max_iter: int = 1000
) -> tuple[DataFrame, "SuperstepStats"]:
    """(a, b) edges of the k-truss: the maximal subgraph in which every
    edge participates in ≥ k−2 triangles of that subgraph — the
    edge-peeling analog of the k-core vertex peel (D4).  Canonical a < b
    rows; vertices drop out implicitly with their last edge.

    Each round recounts ``edge_support`` inside the surviving edges
    (hub-safe degree-ordered wedges), keeps the edges with support ≥ k−2,
    truncates and counts them; the fixpoint is the round that drops
    nothing.  A count-once-then-decrement loop (enumerating only the
    triangles lost with each round's dropped edges, as the k-core peel
    decrements degrees) drops the same edges every round, but measured
    no faster than the recount on the planted-hub graph and slower at
    sf0.1 (``BENCH/corpus_pipeline.jsonl``, kind ``ktruss_arm_ab``)."""
    from tcr_kcore_spark.superstep import (
        SuperstepStats,
        release_state,
        truncate_lineage,
    )

    stats = SuperstepStats()
    cur = truncate_lineage(_canonical(graph).distinct())
    # one planning action: edge count + id range (int32 wedge narrowing,
    # see edge_support; ids only shrink as edges drop, so decide once)
    crow = cur.agg(
        F.count(F.lit(1)).alias("n"), F.min("a").alias("mn"), F.max("b").alias("mx")
    ).first()
    n_cur = crow["n"]
    narrow = _fits_int32(crow["mn"], crow["mx"])
    stats.actions += 1
    thresh = int(k) - 2
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
        release_state(sup)  # frees the round's oriented table
        release_state(cur)  # each round's truncated frame is scratch
        cur = nxt
        if n_nxt == n_cur or n_nxt == 0:
            stats.converged = True
            break
        n_cur = n_nxt
    return cur, stats
