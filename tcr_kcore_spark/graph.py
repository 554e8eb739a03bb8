"""LinkGraph: the engine's graph data model.

Reference mapping (SURVEY.md §1): the reference stores a graph as CSR/CSC
tensors (``TCR/src/type/CSRGraph.py:14-58``, ``CSRCGraph.py:14-56``).  Here a
graph is one canonical edge DataFrame ``(src long, dst long[, weight])`` —
"CSR order" is just the edge DataFrame hash-partitioned (or range-partitioned
by degree mass) on ``src``; "CSC" is the same DataFrame shuffled on ``dst``.
Edge attributes travel as columns, which removes the reference's
``shuffle_ptr`` machinery entirely (``CSRCGraph.py:99-108``).

Ingest semantics reproduced exactly (SURVEY.md §1.3):

- undirected graphs are symmetrized and deduped at build time
  (``TCR/src/type/CSRGraph.py:452-461``),
- self-loops dropped (``KCoreGPU-master/.../src/graph.cpp:87-101``),
- vertex ids densified to ``0..V-1`` in sorted order of the original ids
  (``TCR/src/type/CSRGraph.py:432-441``) — done with a window-free
  ``zipWithIndex``-equivalent only when requested; algorithms work on raw
  ids so densification is not on the hot path.

Cache ownership.  A *materialized* graph (``materialize()``/``cache()``)
owns its edge cache and the tables derived from it, each built lazily on
first use and shared by every later operator call — the reference builds
its CSR/CSC topology once and every GAS program reuses it
(``TCR/src/framework/strategy/SimpleStrategy.py:24-26``):

- the superstep edge layout, one per regime (``superstep_edges``);
- the vertex set and its row count (``vertex_set``);
- the out-degree table (``out_degree_table``);
- for a directed graph, its symmetrized view (``undirected_view``), itself
  a materialized graph with tables of its own.

``unpersist()`` frees all of them.  An operator never persists or frees a
graph-owned table; it frees the caches it made itself before it returns
(``superstep.vertex_program``).  A graph that is not materialized owns
nothing: each accessor returns a fresh per-call plan.  The public
``vertices()``/``out_degrees()``/``degrees()`` are always per-call plans.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EDGE_COLS = ("src", "dst")


def _persisted(df: DataFrame) -> bool:
    """Whether ``df``'s plan is in the CacheManager now.  False once
    ``spark.catalog.clearCache()`` dropped it, although the Python frame
    still reports ``is_cached``."""
    level = df.storageLevel
    return level.useMemory or level.useDisk


@dataclass
class LinkGraph:
    """An immutable link graph backed by a (possibly cached) edge DataFrame.

    ``edges`` always has ``src: long, dst: long`` plus optional attribute
    columns (e.g. ``weight``).  ``directed`` records whether ``edges`` is a
    directed edge set or the symmetrized closure of an undirected graph.
    """

    edges: DataFrame
    directed: bool = True
    _cached: bool = field(default=False, repr=False)
    # graph-owned derived tables (module docstring), keyed by name
    _tables: dict = field(default_factory=dict, repr=False, compare=False)
    _n_verts: int | None = field(default=None, repr=False, compare=False)
    _view: "LinkGraph | None" = field(default=None, repr=False, compare=False)

    # -- constructors -------------------------------------------------------

    @staticmethod
    def from_edges(
        edges: DataFrame,
        directed: bool = True,
        dedup: bool = True,
        drop_self_loops: bool = True,
    ) -> "LinkGraph":
        """Build a graph from an arbitrary (src, dst[, ...]) DataFrame.

        For ``directed=False`` the edge set is symmetrized
        (``E ∪ reverse(E)``), mirroring the reference's undirected build
        (``TCR/src/type/CSRGraph.py:452-461``).
        """
        e = edges.withColumn("src", F.col("src").cast("long")).withColumn(
            "dst", F.col("dst").cast("long")
        )
        if drop_self_loops:
            e = e.where(F.col("src") != F.col("dst"))
        if not directed:
            extra = [c for c in e.columns if c not in EDGE_COLS]
            rev = e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), *extra
            )
            e = e.select("src", "dst", *extra).unionByName(rev)
        if dedup:
            if set(e.columns) == set(EDGE_COLS):
                e = e.distinct()
            else:
                # keep one WHOLE attribute row per (src, dst) with an
                # explicit, deterministic tie-break: min over the row struct
                # ordered with weight first (min-weight survives — what SSSP
                # wants for parallel edges — and the other attributes come
                # from that same surviving row).  A per-column min would
                # tear correlated attributes into a row that existed on no
                # input; dropDuplicates would be partition-order dependent.
                # The struct is built weight-first EXPLICITLY (not in caller
                # column order) so a (src, dst, label, weight) frame still
                # keeps the minimum weight; output column order is preserved.
                extra = [c for c in e.columns if c not in EDGE_COLS]
                tie_break = sorted(extra, key=lambda c: c != "weight")
                e = (
                    e.groupBy("src", "dst")
                    .agg(F.min(F.struct(*tie_break)).alias("__row"))
                    .select(
                        "src",
                        "dst",
                        *[F.col(f"__row.{c}").alias(c) for c in extra],
                    )
                )
        return LinkGraph(edges=e, directed=directed)

    def undirected_view(self) -> "LinkGraph":
        """Symmetrized closure of a directed graph (used by k-core/CC/LPA/TC
        when the input edge list is directed).  A materialized graph owns
        its view: built and persisted on first use, materialized by its
        first consumer, and itself a materialized graph whose tables are
        shared too."""
        if not self.directed:
            return self
        if not self._cached:
            return LinkGraph.from_edges(self.edges, directed=False)
        self._revive()
        if self._view is None:
            self._view = LinkGraph.from_edges(self.edges, directed=False).cache()
        self._view._revive()
        return self._view

    # -- persistence --------------------------------------------------------

    def cache(self) -> "LinkGraph":
        """Persist the edge DataFrame — the analog of the reference's
        topology caching (``SimpleStrategy.py:24-26``, SURVEY.md §4)."""
        if not self._cached:
            self.edges.persist()
            self._cached = True
        return self

    def unpersist(self) -> "LinkGraph":
        """Free the edge cache and every graph-owned table."""
        for df in self._tables.values():
            df.unpersist()
        self._tables.clear()
        self._n_verts = None
        if self._view is not None:
            self._view.unpersist()
            self._view = None
        if self._cached:
            self.edges.unpersist()
            self._cached = False
        return self

    def materialize(self) -> int:
        """Force the cache and return the edge count."""
        self.cache()
        return self.edges.count()

    def owned_caches(self) -> list[DataFrame]:
        """Every persisted frame this graph owns: the edge cache, the
        derived tables built so far and its view's."""
        if not self._cached:
            return []
        view = self._view.owned_caches() if self._view is not None else []
        return [self.edges, *self._tables.values(), *view]

    # -- graph-owned derived tables (module docstring) ----------------------

    def _revive(self) -> None:
        """Re-persist the edge cache if ``clearCache()`` dropped it, so the
        tables rebuilt from it do not re-read its source per build."""
        if not _persisted(self.edges):
            self.edges.persist()

    def _table(self, key, build: Callable[[], DataFrame]) -> DataFrame:
        """The graph-owned table ``key``: ``build()`` persisted on first
        use (no eager job; its first consumer materializes it), rebuilt
        rather than read uncached once its cache was dropped."""
        df = self._tables.get(key)
        if df is None or not _persisted(df):
            self._revive()
            df = self._tables[key] = build().persist()
        return df

    def vertex_set(self) -> tuple[DataFrame, int | None]:
        """``(verts, n)``: the vertex set and its row count.  On a
        materialized graph both are graph-owned: persisted and counted on
        first use, then shared.  Otherwise ``(vertices(), None)``: a
        per-call plan the caller persists and counts."""
        if not self._cached:
            return self.vertices(), None
        verts = self._table("verts", self.vertices)
        if self._n_verts is None:
            self._n_verts = verts.count()
        return verts, self._n_verts

    def out_degree_table(self) -> DataFrame:
        """``out_degrees()``, graph-owned on a materialized graph."""
        if not self._cached:
            return self.out_degrees()
        return self._table("out_deg", self.out_degrees)

    def superstep_edges(self, bcast: bool) -> DataFrame:
        """The ``(src, dst)`` edges in the superstep layout for the regime
        (``plans.partitioning.plan_superstep_edges``): graph-owned on a
        materialized graph, else a per-call plan the caller persists."""
        # local import: the plans package imports this module
        from tcr_kcore_spark.plans.partitioning import plan_superstep_edges

        def build() -> DataFrame:
            return plan_superstep_edges(self.edges.select(*EDGE_COLS), bcast)

        return self._table(("edges", bcast), build) if self._cached else build()

    # -- accessors (SURVEY.md §2.A) ----------------------------------------

    def vertices(self) -> DataFrame:
        """Distinct vertex ids (endpoints of any edge).

        Reference: vertex set = sorted unique of endpoints
        (``TCR/src/type/Graph.py:192-210``).  Sortedness is irrelevant under
        set semantics; callers sort when they need order.

        For an undirected graph the edge table is the symmetrized closure
        (the ``directed`` field's contract), so the src column alone covers
        every endpoint — one distinct over E rows instead of a union over
        2E (guide §2.3: shuffle fewer bytes; this scan feeds every
        operator's setup).
        """
        if not self.directed:
            return self.edges.select(F.col("src").alias("id")).distinct()
        return (
            self.edges.select(F.col("src").alias("id"))
            .unionByName(self.edges.select(F.col("dst").alias("id")))
            .distinct()
        )

    def out_degrees(self) -> DataFrame:
        """(id, out_deg) — reference A6: ``diff(row_ptr)``
        (``TCR/src/type/CSRGraph.py:41``).  Vertices with no out-edges are
        absent; callers outer-join against :meth:`vertices` when they need
        zeros."""
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_deg")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("in_deg")
        )

    def degrees(self) -> DataFrame:
        """(id, degree) for the symmetrized graph: out-degree of the
        undirected closure.  For an already-undirected graph this is just
        out_degrees renamed."""
        g = self if not self.directed else self.undirected_view()
        return g.out_degrees().select("id", F.col("out_deg").alias("degree"))

    def degree_stats(self) -> dict:
        """Driver-side planning stats — reference computes
        max/avg/middle-of-histogram degree for partition planning
        (``TCR/src/demo/KCore_big.py:271-286``)."""
        row = (
            self.out_degrees()
            .agg(
                F.count("id").alias("v"),
                F.sum("out_deg").alias("e"),
                F.max("out_deg").alias("max_deg"),
                F.avg("out_deg").alias("avg_deg"),
                F.expr("percentile_approx(out_deg, 0.5)").alias("median_deg"),
            )
            .first()
        )
        return {k: row[k] for k in ("v", "e", "max_deg", "avg_deg", "median_deg")}

    # -- id densification (SURVEY.md §1.3) ---------------------------------

    def dense_id_map(self) -> DataFrame:
        """(orig, id) mapping original vertex ids to dense ``0..V-1`` in
        ascending original-id order — the reference's ``vertex_to_index``
        densification (``TCR/src/type/CSRGraph.py:432-441``).

        Numbered JVM-side by ``plans.partitioning.dense_index`` (range
        partition, in-partition positions, driver-side partition offsets —
        the distributed zipWithIndex pattern): a global ``row_number``
        window would serialize on one partition.  The mapping is
        materialized; free it with ``superstep.release_state``.
        """
        # local import: the plans package imports this module
        from tcr_kcore_spark.plans.partitioning import dense_index

        return dense_index(self.vertices().withColumnRenamed("id", "orig"), ["orig"], "id")

    def densify(self) -> tuple["LinkGraph", DataFrame]:
        """Rewrite edges onto dense ids; returns (graph, mapping).  The
        mapping is materialized (lineage-truncated); free its blocks with
        ``superstep.release_state(mapping)`` when done."""
        m = self.dense_id_map()
        e = (
            self.edges.join(m.withColumnRenamed("orig", "src").withColumnRenamed("id", "new_src"), "src")
            .join(m.withColumnRenamed("orig", "dst").withColumnRenamed("id", "new_dst"), "dst")
            .select(
                F.col("new_src").alias("src"),
                F.col("new_dst").alias("dst"),
                *[c for c in self.edges.columns if c not in EDGE_COLS],
            )
        )
        return LinkGraph(e, directed=self.directed), m

    # -- subgraphs (SURVEY.md §2.A A11/A12/A14) ----------------------------

    def semi_subgraph(self, vertex_ids: DataFrame) -> "LinkGraph":
        """Edges whose *source* is in ``vertex_ids`` — exactly the
        reference's ``csr_subgraph`` semantics (keeps all out-neighbors,
        dst NOT filtered; ``TCR/src/type/CSRGraph.py:262-302``)."""
        vs = vertex_ids.select(F.col(vertex_ids.columns[0]).alias("src"))
        return LinkGraph(self.edges.join(vs, "src", "left_semi"), self.directed)

    def induced_subgraph(self, vertex_ids: DataFrame) -> "LinkGraph":
        """Full induced subgraph: both endpoints must be in ``vertex_ids``
        (``TCR/src/type/CSRGraph.py:304-338``)."""
        col = vertex_ids.columns[0]
        vs_src = vertex_ids.select(F.col(col).alias("src"))
        vs_dst = vertex_ids.select(F.col(col).alias("dst"))
        e = self.edges.join(vs_src, "src", "left_semi").join(vs_dst, "dst", "left_semi")
        return LinkGraph(e.select(self.edges.columns), self.directed)

    def remove_vertices(self, vertex_ids: DataFrame) -> "LinkGraph":
        """Drop all edges touching ``vertex_ids`` — the reference's
        compacted-CSR rebuild (``TCR/src/demo/KCore_subscr_one.py:21-59``),
        vectorized for free as two anti-joins."""
        col = vertex_ids.columns[0]
        vs_src = vertex_ids.select(F.col(col).alias("src"))
        vs_dst = vertex_ids.select(F.col(col).alias("dst"))
        e = self.edges.join(vs_src, "src", "left_anti").join(vs_dst, "dst", "left_anti")
        return LinkGraph(e, self.directed)
