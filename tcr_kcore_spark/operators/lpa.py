"""Synchronous label propagation — reference D11
(``TCR/src/demo/LabelPropagation.py:17-106``).

Semantics: label₀ = own id; each round every vertex adopts the most frequent
label among its neighbors.  The reference breaks frequency ties randomly
(``LabelPropagation.py:33-41``); we use a deterministic tie-break — smallest
label wins — and document the deviation (SURVEY.md §7 "LPA determinism").
Default round count mirrors the reference CLI default (``maxsteps``).

Spark formulation (reference B12): ``msgs.groupBy(id, label).count()`` then
a second aggregation ``max(struct(cnt, -label))`` per vertex — the mode
with the deterministic (count desc, label asc) tie-break expressed as two
map-side-combinable aggregations, no window.  Both levels absorb in-degree
hubs through partial aggregation.  The first is a hash aggregation; the
second plans as ``SortAggregate`` over a ``Sort`` on each side of its
exchange, because a struct aggregation buffer is not hash-aggregatable.

Inside the driver-local regime (``superstep.VertexProgram.run``) the same
rounds run in NumPy on the driver (``_lpa_local``) from one collect of the
edge rows: one vote per row, the same tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.partitioning import state_side
from tcr_kcore_spark.superstep import LocalProgram, SuperstepStats, vertex_program


def lpa_round(edges: DataFrame, labels: DataFrame, bcast: bool = True) -> DataFrame:
    """One synchronous LPA round over symmetrized ``edges``;
    ``labels`` = (id, label).  Physical shape: a hash aggregation of the
    (id, label) vote counts, then ``max(struct(cnt, -label))`` per id as a
    partial and a final ``SortAggregate``, each over a ``Sort`` (a struct
    buffer is not hash-aggregatable) — not one hash aggregation."""
    lab = labels.select(F.col("id").alias("src"), F.col("label").alias("nbr_label"))
    lab = state_side(lab, bcast)
    msgs = edges.join(
        lab,
        "src",
    ).select(F.col("dst").alias("id"), F.col("nbr_label").alias("label"))
    counts = msgs.groupBy("id", "label").agg(F.count(F.lit(1)).alias("cnt"))
    # mode with deterministic tie-break (count desc, label asc) as one
    # aggregation: max of struct(cnt, -label) — map-side combinable, so a
    # hub's label votes partially aggregate on the map side instead of
    # funneling its whole distinct-label set through one window partition
    # (it plans as sort-based, not hash, aggregation: see the docstring)
    best = (
        counts.groupBy("id")
        .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m"))
        .select("id", (-F.col("m.neg")).alias("new_label"))
    )
    # vertices with no neighbors keep their label
    if bcast:
        best = F.broadcast(best)
    return labels.join(best, "id", "left").select(
        "id", F.coalesce(F.col("new_label"), F.col("label")).alias("label")
    )


def _lpa_local(ids, s, d) -> LocalProgram:
    """LPA on the driver: labels as dense indices (ids are sorted, so
    index order is label order); each row ``(s, d)`` is one vote of
    ``label[s]`` for ``d``, the (count desc, label asc) winner is taken,
    and a vertex with no votes keeps its label."""
    import numpy as np

    n = ids.shape[0]

    def step(label, i):
        votes, cnt = np.unique(d * n + label[s], return_counts=True)
        v, lab = votes // n, votes % n
        order = np.lexsort((lab, -cnt, v))
        v, lab = v[order], lab[order]
        first = np.ones(v.shape[0], dtype=bool)
        first[1:] = v[1:] != v[:-1]
        new = label.copy()
        new[v[first]] = lab[first]
        return new

    return LocalProgram(np.arange(n), step, result=lambda label: {"label": ids[label]})


def label_propagation(
    graph: LinkGraph,
    rounds: int = 3,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    resume: bool = False,
) -> tuple[DataFrame, SuperstepStats]:
    """Returns ((id, label), stats) after a fixed number of synchronous
    rounds (the reference runs a fixed ``maxsteps``, default 3 from CLI /
    50 in-code — ``LabelPropagation.py:18,79``)."""
    g = graph.undirected_view()
    with vertex_program(g) as vp:
        return vp.run(
            vp.verts.select("id", F.col("id").alias("label")),
            lambda state, i: lpa_round(vp.edges, state, vp.bcast),
            result=("id", "label"),
            local=_lpa_local,
            max_iter=rounds,
            checkpoint_dir=checkpoint_dir,
            checkpoint_every=checkpoint_every,
            name="lpa",
            resume=resume,
        )
