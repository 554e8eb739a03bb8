"""Structure-aware vertex relabeling (graph reordering, SURVEY.md §2.C).

Blocked iterative kernels — the hybrid k-core peel's per-block BZ cascade,
or any contiguous-range CSR-block operator — win exactly when the id space
is laid out so most edges stay inside one vertex block (the measured
``stats.local_edge_frac``).  Real edge tables arrive with ids assigned by
ingest order: structurally adjacent vertices land in arbitrary blocks, the
in-block fraction collapses to ~1/n_blocks, and the adaptive peel correctly
falls back to its legacy one-level-per-shuffle-round regime
(``BENCH/peel_scale.jsonl`` scramble rows: frac 0.035, 143 global rounds).

``locality_relabel`` restores layout locality ONCE so every later blocked
run inherits it: order vertices by a structural key — connected component
by default, or any caller-provided clustering (LPA labels, repo/package
ids from the corpus ingest) via ``labels=`` — and renumber densely in that
order.  This is the distributed analog of the Gorder/RCM-style reordering
single-node engines apply before CSR builds; the reference's densification
sorts by raw vertex id only (``TCR/src/type/CSRGraph.py:432-441``), because
its GPU kernels are layout-insensitive — a Spark blocked kernel is not.

The corpus ingest needs NO relabel: ``sources/ingest.py`` assigns dense
ids ordered by (repo, path), so repo-clustered dependency graphs arrive
already locality-laid-out (measured in-block fraction 0.81 at 8 blocks on
the synth corpus vs ~0.125 scrambled; test_layout.py).  locality_relabel
is for edge tables that arrive WITHOUT that provenance — pre-built edge
lists, external id spaces, unions of sources.

Scale notes (100 TB): the renumber is ``plans.partitioning.dense_index``,
the distributed zipWithIndex pattern run JVM-side (range partition on the
key, in-partition positions from ``monotonically_increasing_id``, a driver
collect of O(#partitions) counts — never a global single-partition window,
never a Python worker; only ``align_span``'s first-fit cluster packing
walks partitions in pandas); the edge rewrite is two hash joins against
the V-row mapping — one-time cost amortized over every subsequent query on
the relabeled table, exactly like the dense-id build it composes with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import EDGE_COLS, LinkGraph
from tcr_kcore_spark.plans.partitioning import dense_index
from tcr_kcore_spark.superstep import SuperstepStats, release_state, truncate_lineage


def locality_relabel(
    graph: LinkGraph,
    labels: DataFrame | None = None,
    method: str = "components",
    n_parts: int | None = None,
    align_span: int | None = None,
) -> tuple[LinkGraph, DataFrame, SuperstepStats]:
    """Renumber vertices so structurally-close ones get contiguous ids.

    Returns ``(relabeled_graph, mapping(orig, id), stats)``; ``stats`` is
    the labeling run's telemetry (0 supersteps when ``labels`` is given).
    New ids are dense ``0..V-1`` ordered by ``(label, orig_id)`` — ties
    inside a cluster keep ingest order, so an already-local layout is
    preserved — numbered JVM-side by ``plans.partitioning.dense_index``
    over ``n_parts`` range partitions.  ``labels``: any ``(id, <key>)``
    DataFrame with one row per vertex; the key column may be numeric or
    string (e.g. the corpus repo name).  The mapping is
    materialized (lineage-truncated); release with
    ``superstep.release_state(mapping)`` when done.

    ``align_span``: also BIN-PACK clusters into ``align_span``-sized id
    bins (first-fit in cluster order, clusters padded past a boundary they
    would straddle; clusters larger than the span start ON a boundary).
    Ids are then sparse — gaps at bin remainders (< 2x from packing, as
    every non-final bin is more than half full) plus up to one span per
    range partition (each partition's extent rounds up to a span multiple
    so its local alignment decisions stay valid under the absolute base);
    with default settings that is ≤ 2·V + n_parts·span.  NO cluster
    smaller than the span
    crosses a ``span``-aligned block edge — pass the same value as
    ``block_span=`` to the blocked k-core peel and every block sees only
    whole clusters, independent of how cluster sizes divide V.  Without
    it a contiguous-but-unaligned layout still splits clusters at block
    boundaries (measured: in-block fraction stuck at 0.5 and the cascade
    loses; BENCH/peel_scale.jsonl n_blocks=32 relabel row)."""
    spark = graph.edges.sparkSession
    stats = SuperstepStats()
    if labels is None:
        if method != "components":
            raise ValueError(f"unknown method {method!r}")
        from tcr_kcore_spark.operators.components import connected_components

        labels, stats = connected_components(graph)
        labels = labels.select("id", F.col("component").alias("lbl"))
    else:
        key_col = [c for c in labels.columns if c != "id"][0]
        labels = labels.select("id", F.col(key_col).alias("lbl"))

    nparts = int(n_parts or spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if align_span is None:
        mapping = dense_index(
            labels.withColumnRenamed("id", "orig"), ["lbl", "orig"], "id", nparts, ["orig"]
        )
    else:
        dense = dense_index(labels, ["lbl", "id"], "gpos", nparts)
        mapping = _aligned_mapping(dense, int(align_span), nparts, stats)
        release_state(dense)
    stats.actions += 1  # dense_index's per-partition count collect

    attrs = [c for c in graph.edges.columns if c not in EDGE_COLS]
    e = (
        graph.edges.join(
            mapping.select(F.col("orig").alias("src"), F.col("id").alias("_ns")),
            "src",
        )
        .join(
            mapping.select(F.col("orig").alias("dst"), F.col("id").alias("_nd")),
            "dst",
        )
        .select(F.col("_ns").alias("src"), F.col("_nd").alias("dst"), *attrs)
    )
    return LinkGraph(e, directed=graph.directed), mapping, stats


def _aligned_mapping(
    dense: DataFrame, span: int, nparts: int, stats: SuperstepStats
) -> DataFrame:
    """Bin-packed sparse ids from the dense ``(id, lbl, gpos)`` numbering:
    per-cluster (p0, n) in dense order, clusters first-fit packed into
    ``span``-sized bins, new_id = cluster_start + (gpos - p0).  The
    cluster walk is per-partition with driver prefix offsets; every
    partition's padded extent is rounded up to a span multiple, so local
    ``% span`` alignment decisions stay valid under the absolute base."""
    spark = dense.sparkSession
    clusters = dense.groupBy("lbl").agg(
        F.min("gpos").alias("p0"), F.count(F.lit(1)).alias("n")
    )
    lbl_type = dense.schema["lbl"].dataType.simpleString()
    walked_schema = f"lbl {lbl_type}, p0 long, n long, cstart long, fill long"

    def _pack(pit):
        # first-fit walk in cluster order; `fill` carries the partition's
        # running padded extent so the driver can round it to a span
        # multiple (running state must persist ACROSS Arrow batches)
        off = 0
        for pdf in pit:
            starts = []
            fills = []
            for n in pdf["n"]:
                n = int(n)
                if off % span and (off % span) + n > span:
                    off += span - (off % span)  # bump to the next bin
                starts.append(off)
                off += n
                fills.append(off)
            pdf = pdf[["lbl", "p0", "n"]]
            pdf["cstart"] = starts
            pdf["fill"] = fills
            yield pdf

    packed = (
        clusters.repartitionByRange(nparts, "p0")
        .sortWithinPartitions("p0")
        .mapInPandas(_pack, walked_schema)
        .persist()
    )
    csizes = (
        packed.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.min("p0").alias("lo"), F.max("fill").alias("extent"))
        .collect()
    )
    stats.actions += 1
    acc = 0
    bases = []
    for r in sorted(csizes, key=lambda r: r["lo"]):
        bases.append((int(r["pid"]), acc))
        acc += -(-int(r["extent"]) // span) * span  # ceil to a span multiple
    base_df = spark.createDataFrame(bases, "pid int, base long")
    cstarts = (
        packed.withColumn("pid", F.spark_partition_id())
        .join(F.broadcast(base_df), "pid")
        .select("lbl", "p0", (F.col("cstart") + F.col("base")).alias("abs_start"))
    )
    mapping = dense.join(cstarts, "lbl").select(
        F.col("id").alias("orig"),
        (F.col("abs_start") + F.col("gpos") - F.col("p0")).alias("id"),
    )
    mapping = truncate_lineage(mapping)
    packed.unpersist()
    return mapping


def suggest_align_span(
    labels: DataFrame, n_blocks_target: int = 32
) -> dict[str, int]:
    """Cluster-size statistics + a block span recommendation for
    ``locality_relabel(align_span=...)`` / ``kcore(block_span=...)``.

    One map-side-combinable aggregation over the (id, label) table; the
    driver sees only 4 scalars.  ``span`` = max(p99 cluster size,
    ceil(V / n_blocks_target)): big enough that ≤1% of clusters straddle
    a block, small enough to keep ~``n_blocks_target``-way parallelism —
    clusters above the p99 (e.g. a giant component) straddle regardless
    and the peel's adaptive controller handles them as open blocks."""
    key = [c for c in labels.columns if c != "id"][0]
    row = (
        labels.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum("n").alias("v"),
            F.max("n").alias("mx"),
            F.expr("percentile_approx(n, 0.5)").alias("p50"),
            F.expr("percentile_approx(n, 0.99)").alias("p99"),
        )
        .first()
    )
    v = int(row["v"] or 0)
    span = max(int(row["p99"] or 1), -(-v // max(1, n_blocks_target)))
    return {
        "vertices": v,
        "max_cluster": int(row["mx"] or 0),
        "p50_cluster": int(row["p50"] or 0),
        "p99_cluster": int(row["p99"] or 0),
        "span": span,
    }
