"""Explicit partitioning and skew control.

Reference counterparts (SURVEY.md §2.C): LPT degree-balanced partitions
(``TCR/src/framework/partition/EdgePartition.py``, ``GeminiPartition.py``)
and cumulative-degree searchsorted range splits
(``TCR/src/demo/KCore_big.py:80-137``).  In Spark the same goals are:

- ``degree_range_bounds`` / ``repartition_by_degree_mass``: split the vertex
  axis where cumulative degree mass crosses ``i·E/P`` — so each partition
  of the edge table holds ~equal EDGES even under Zipf-skewed degrees (a
  plain hash partition holds equal *keys*, not equal edges);
- ``local_regime`` / ``solve_local``: the one gate and transport of the
  driver-local regime, where a small graph is solved by a NumPy kernel on
  the driver instead of by Spark rounds;
- ``dense_index``: dense row numbers ``0..N-1`` in key order (the
  distributed zipWithIndex behind every dense-id map), JVM-side;
- ``salted_sum`` / ``salted_count``: two-level aggregation for aggregations
  whose per-key fan-in is hub-skewed AND whose aggregate is algebraic —
  split each key into ``n_salt`` sub-keys, partially aggregate, then merge.
  (groupBy(sum/count) already gets map-side partial aggregation from
  Tungsten, which handles most skew; explicit salting is for when the
  *reduce side* must stay balanced, e.g. collect_list-ish aggregations or
  extreme 10^9-degree hubs at 100 TB.)

These helpers keep algorithm results identical — tests assert equality of
salted vs unsalted aggregation.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.superstep import truncate_lineage

# monotonically_increasing_id() puts the partition index in the upper 31
# bits and the row's position within its partition in the lower 33
_POS_BITS = 33


def broadcast_max_rows() -> int:
    """Vertex-state row count up to which superstep joins broadcast the
    state.  Override with $SPARK_GRAFT_BROADCAST_MAX_ROWS (set 0 to force
    the shuffle regime — used by tests and the scaling bench to prove the
    non-broadcast plan)."""
    return int(os.environ.get("SPARK_GRAFT_BROADCAST_MAX_ROWS", "2000000"))


# Symmetric-entry cap of the driver-local regime.  The collect ships E/2
# canonical pairs (16 B each: 64 MB at the cap) and the NumPy kernels keep
# a few E-length int64 arrays; the layered BZ peel runs ~1.1M entries/s
# single-threaded, so the cap bounds the kcore solve at ~8 s.
LOCAL_MAX_ENTRIES = 8_000_000


def local_caps(
    max_vertices: int | None = None, max_entries: int | None = None
) -> tuple[int, int]:
    """``(max V, max symmetric entries)`` of the driver-local regime:
    ``broadcast_max_rows()`` and ``LOCAL_MAX_ENTRIES``, each lowered to the
    caller's cap when one is given."""
    max_v = broadcast_max_rows()
    if max_vertices is not None:
        max_v = min(max_v, max_vertices)
    max_e = LOCAL_MAX_ENTRIES
    if max_entries is not None:
        max_e = min(max_e, max_entries)
    return max_v, max_e


def local_regime(
    graph,
    max_vertices: int | None = None,
    max_entries: int | None = None,
    checkpoint_dir: str | None = None,
    resume: bool = False,
) -> bool:
    """Whether an undirected ``graph`` is small enough to solve on the
    driver (``solve_local``): V and the symmetric entries within
    ``local_caps``, and no checkpoint or resume (their manifests
    describe round-structured state).  ``SPARK_GRAFT_BROADCAST_MAX_ROWS=0``
    therefore forces the distributed path too.

    The cheap tests come first.  On a materialized graph E is the count
    ``materialize()`` took and V the graph-owned vertex count, so the gate
    runs no job once those exist; otherwise each is counted here."""
    max_v, max_e = local_caps(max_vertices, max_entries)
    if max_v <= 0 or max_e <= 0 or checkpoint_dir is not None or resume:
        return False
    if graph.edge_count() > max_e:
        return False
    verts, n = graph.vertex_set()
    return (verts.count() if n is None else n) <= max_v


def simple_pairs(src, dst):
    """``(ids, s, d)`` from canonical (``src ≤ dst``) NumPy edge rows:
    ``ids`` the sorted distinct endpoints of every row (a vertex whose only
    row is a self-loop keeps its id), ``s < d`` the dense indices into
    ``ids`` of the distinct loop-free pairs, sorted by ``(s, d)`` — the
    reference's simple graph (self-loops dropped and duplicates merged,
    ``KCoreGPU-master/.../src/graph.cpp:87-101``)."""
    import numpy as np

    ids = np.unique(np.concatenate([src, dst]))
    n = ids.shape[0]
    s = np.searchsorted(ids, src)
    d = np.searchsorted(ids, dst)
    loop_free = s != d
    key = np.unique(s[loop_free] * n + d[loop_free])
    return ids, key // n, key % n


def solve_local(edges: DataFrame, kernel) -> DataFrame | None:
    """The driver-local transport: the canonical ``src ≤ dst`` rows of a
    symmetric edge table come to the driver in one ``toArrow()`` collect
    (JVM-side Arrow encoding, one job, no Python worker), ``kernel(src,
    dst)`` runs on the NumPy columns and returns ``{name: array}``, and
    ``spark.createDataFrame(pyarrow.Table)`` turns that into a local
    relation (a ``LocalTableScan``: no lineage, nothing cached to free).
    A kernel that declines returns None, and so does this."""
    import pyarrow as pa

    rows = edges.where(F.col("src") <= F.col("dst")).select("src", "dst").toArrow()
    cols = kernel(
        rows.column("src").to_numpy().astype("int64", copy=False),
        rows.column("dst").to_numpy().astype("int64", copy=False),
    )
    if cols is None:
        return None
    return edges.sparkSession.createDataFrame(pa.table(cols))


def state_side(df: DataFrame, bcast: bool) -> DataFrame:
    """Wrap the V-row state side of a superstep edge-join: broadcast under
    the broadcast regime; under the shuffle regime hint it as the
    shuffle-hash BUILD side, so the cached E-row side streams without the
    per-superstep sort a SortMergeJoin would re-run on it."""
    return F.broadcast(df) if bcast else df.hint("shuffle_hash")


def plan_superstep_edges(edges: DataFrame, bcast: bool, npart: int | None = None) -> DataFrame:
    """Hash-partition the cached edge table ONCE for the superstep loop so
    that NO per-superstep exchange is ever proportional to E.

    - broadcast regime (V-row state fits a broadcast): partition by ``dst``.
      The per-superstep state join is map-side (broadcast), so the dst
      partitioning survives it and the groupBy(dst) aggregation needs no
      exchange at all — zero exchanges per superstep.
    - shuffle regime (V too large to broadcast — the 10^12-file scale):
      partition by ``src``.  Each superstep the V-row state shuffles to
      hash(src) to MEET the cached edges (the edges themselves are never
      re-exchanged), and the groupBy(dst) exchanges only map-side-combined
      messages.  Exchange volume per superstep is ∝ V, never ∝ E — the
      analog of the reference exchanging only vertex state per iteration
      (``MultiGPUStrategyByNCCL.py:76-82``), while round 1 re-shuffled the
      whole E-sized edge table every superstep in this regime.

    ``npart`` must equal spark.sql.shuffle.partitions (the default) so the
    join-side requirement matches the cached partitioning exactly.
    """
    spark = edges.sparkSession
    if npart is None:
        npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return edges.repartition(npart, "dst" if bcast else "src")


def dense_index(
    df: DataFrame,
    keys: list[str],
    col: str,
    n_parts: int | None = None,
    cols: list[str] | None = None,
) -> DataFrame:
    """``df`` plus ``col``: dense row numbers ``0..N-1`` in ascending
    ``keys`` order — ``row_number() OVER (ORDER BY keys) - 1`` without a
    global single-partition window and without a Python worker.

    Range-partition on ``keys`` (ascending key ranges go to ascending
    partition ids) and sort within partitions; the projection right above
    the sort reads each row's in-partition position from the low 33 bits
    of ``monotonically_increasing_id`` and its partition from the high
    bits.  That frame is persisted, one driver collect of per-partition
    row counts (O(#partitions) rows) gives prefix offsets in partition
    order, and a broadcast join adds them.

    ``keys`` must be unique over ``df``: ties have no defined order, and a
    recomputed cache block must sort its rows exactly as before.  Each
    range partition may hold at most 2^33 rows.  ``cols`` selects the
    output columns besides ``col`` (default: all of ``df``'s).  The result
    is materialized (lineage-truncated); free it with
    ``superstep.release_state``."""
    spark = df.sparkSession
    nparts = int(n_parts or spark.conf.get("spark.sql.shuffle.partitions", "32"))
    out_cols = list(cols or df.columns)
    counted = (
        df.repartitionByRange(nparts, *keys)
        .sortWithinPartitions(*keys)
        .select(*out_cols, F.monotonically_increasing_id().alias("__mid"))
        .withColumn("__pid", F.shiftright("__mid", _POS_BITS))
        .persist()
    )
    sizes = counted.groupBy("__pid").count().collect()
    offsets, acc = [], 0
    for r in sorted(sizes, key=lambda r: r["__pid"]):
        offsets.append((r["__pid"], acc))
        acc += r["count"]
    off_df = spark.createDataFrame(offsets, "__pid long, __off long")
    pos = F.col("__mid").bitwiseAND((1 << _POS_BITS) - 1)
    out = counted.join(F.broadcast(off_df), "__pid").select(
        *out_cols, (pos + F.col("__off")).alias(col)
    )
    out = truncate_lineage(out)
    counted.unpersist()
    return out


def degree_range_bounds(degrees: DataFrame, n_parts: int, id_col: str = "id", deg_col: str = "degree") -> list[int]:
    """Vertex-id split points so each range holds ~E/n_parts edge mass.

    Driver-side planning (like the reference's searchsorted over cumulative
    degrees, ``KCore_big.py:80-137``) computed with approx quantiles over
    the *edge-mass distribution*: weight each vertex by its degree by using
    percentile_approx on the id weighted by degree.
    """
    # expand-free weighted quantiles: percentile_approx(id, p, accuracy)
    # over rows repeated `degree` times ≈ percentile of edge mass.  Spark's
    # percentile_approx has no frequency arg on DataFrames < 3.4; use
    # explode-free trick: percentile(id, probs, degree) via expr supports a
    # frequency column.
    probs = [i / n_parts for i in range(1, n_parts)]
    row = degrees.selectExpr(
        f"percentile({id_col}, array({','.join(str(p) for p in probs)}), {deg_col}) as bounds"
    ).first()
    return [int(b) for b in row["bounds"]]


def repartition_by_degree_mass(
    edges: DataFrame, degrees: DataFrame, n_parts: int, key: str = "src"
) -> DataFrame:
    """Range-partition the edge table on ``key`` using degree-mass bounds —
    each partition receives ~equal edges."""
    bounds = degree_range_bounds(degrees, n_parts)
    if not bounds:
        return edges.repartition(n_parts, key)
    # bucket = searchsorted(bounds, key); range-partition on the bucket so
    # each bucket lands in its own partition (hash-partitioning n values
    # into n partitions collides and merges buckets)
    bucket = F.lit(0)
    for i, b in enumerate(bounds):
        bucket = bucket + F.when(F.col(key) > b, 1).otherwise(0)
    return (
        edges.withColumn("__bucket", bucket)
        .repartitionByRange(n_parts, "__bucket")
        .drop("__bucket")
    )


def _salted_two_level(
    df: DataFrame,
    key_cols: list[str],
    n_salt: int,
    partial_aggs: list[Column],
    final_aggs: list[Column],
) -> DataFrame:
    salted = df.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salt)).cast("int"),
    )
    partial = salted.groupBy(*key_cols, "__salt").agg(*partial_aggs)
    return partial.groupBy(*key_cols).agg(*final_aggs)


def salted_sum(
    df: DataFrame, key_cols: list[str], value_col: str, out_col: str, n_salt: int = 16
) -> DataFrame:
    """Two-level sum: identical result to ``groupBy(keys).sum(value)``."""
    return _salted_two_level(
        df,
        key_cols,
        n_salt,
        [F.sum(value_col).alias("__p")],
        [F.sum("__p").alias(out_col)],
    )


def salted_count(
    df: DataFrame, key_cols: list[str], out_col: str, n_salt: int = 16
) -> DataFrame:
    """Two-level count: identical result to ``groupBy(keys).count()``."""
    return _salted_two_level(
        df,
        key_cols,
        n_salt,
        [F.count(F.lit(1)).alias("__p")],
        [F.sum("__p").alias(out_col)],
    )
