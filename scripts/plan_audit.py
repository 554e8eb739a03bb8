"""Plan audit: prove the superstep exchange contract in both regimes.

Prints the physical plan of one PageRank superstep (message join +
aggregation) under (a) broadcast regime and (b) forced shuffle regime, and
greps it for Exchange operators.  The contract (plans/partitioning.py):

- broadcast: the cached dst-partitioned edges feed groupBy(dst) with NO
  Exchange (the only exchange-ish op is the state BroadcastExchange);
- shuffle: the cached src-partitioned edges join the state WITHOUT an
  Exchange on the edge side (the state side shuffles to meet them), and
  the only other exchange carries map-side-combined messages.

Usage: python scripts/plan_audit.py [sf_dir]
"""

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tcr_kcore_spark.session import get_spark


def superstep_plan(spark, sf_dir: str) -> str:
    from pyspark.sql import functions as F

    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.plans.partitioning import (
        broadcast_max_rows,
        state_side,
    )
    from tcr_kcore_spark.sources.relational import cooccurrence_edges

    g = LinkGraph(cooccurrence_edges(spark, sf_dir), directed=False)
    g.materialize()
    verts, n = g.vertex_set()
    bcast = n <= broadcast_max_rows()
    edges = g.superstep_edges(bcast)
    edges.count()
    # pagerank's state: each vertex carries its message weight w
    w = g.out_degree_table().select("id", (F.lit(0.85) / F.col("out_deg")).alias("w"))
    s = verts.join(w, "id", "left").select(
        F.col("id").alias("src"), "w", F.lit(1.0).alias("rank")
    )
    msgs = (
        edges.join(state_side(s, bcast), "src")
        .groupBy(F.col("dst").alias("id"))
        .agg(F.sum(F.col("w") * F.col("rank")).alias("msg"))
    )
    plan = msgs._jdf.queryExecution().executedPlan().toString()
    g.unpersist()
    return f"regime={'broadcast' if bcast else 'shuffle'} (V={n})\n" + plan


def hindex_round_plan(spark, sf_dir: str) -> str:
    """The OTHER headline kernel: one hub-safe h-operator application
    (kcore.py:_hindex_round) — messages + distinct-value counts + running
    sum.  Contract: the cached edge side joins without an Exchange; the
    only hash Exchanges outside the cache carry map-side-combined
    (id, nbr_est) counts and the per-vertex aggregation."""
    from pyspark.sql import functions as F

    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.operators.kcore import _hindex_round
    from tcr_kcore_spark.plans.partitioning import (
        broadcast_max_rows,
        plan_superstep_edges,
    )
    from tcr_kcore_spark.sources.relational import cooccurrence_edges

    from tcr_kcore_spark.superstep import release_state, truncate_lineage

    g = LinkGraph(cooccurrence_edges(spark, sf_dir), directed=False)
    n = g.vertices().count()
    bcast = n <= broadcast_max_rows()
    edges = plan_superstep_edges(g.edges.select("src", "dst"), bcast).persist()
    edges.count()
    # the state is a TRUNCATED frame in the real loop (bare scan) — passing
    # a lazy degrees() here would wrongly count the one-time graph-build
    # exchanges as per-superstep work
    est = truncate_lineage(
        g.degrees().select("id", F.col("degree").cast("long").alias("est"))
    )
    new = _hindex_round(edges, est, bcast=bcast, hub_safe=True)
    plan = new._jdf.queryExecution().executedPlan().toString()
    edges.unpersist()
    release_state(est)
    return f"regime={'broadcast' if bcast else 'shuffle'} (V={n})\n" + plan


def factored_superstep_plan(spark, sf_dir: str) -> str:
    """The factored-PR message superstep (compress.py pagerank_factored):
    m_direct ∪ m_set → groupBy(id).  Contract: the cached fan-in tables
    (direct_w dst/src-partitioned, owners_w (vh1,vh2)/src-partitioned)
    join WITHOUT an Exchange on their side; per-superstep hash exchanges
    are V-scale or set-scale, never E-scale — broadcast regime pays 1
    (the unioned map-side-combined messages; the union discards the
    cached partitioning, unlike plain PR's 0), shuffle regime ≤ 4 (two
    state-to-cache exchanges + the per-set combine + the message
    combine)."""
    from pyspark.sql import functions as F

    from tcr_kcore_spark.compress import compress_graph
    from tcr_kcore_spark.graph import LinkGraph
    from tcr_kcore_spark.plans.partitioning import (
        broadcast_max_rows,
        plan_superstep_edges,
        state_side,
    )
    from tcr_kcore_spark.sources.relational import cooccurrence_edges

    g = LinkGraph(cooccurrence_edges(spark, sf_dir), directed=True)
    verts = g.vertices()
    n = verts.count()
    bcast = n <= broadcast_max_rows()
    cg = compress_graph(g)
    w = cg.out_deg.select(
        F.col("id").alias("src"), (F.lit(0.85) / F.col("out_deg")).alias("w")
    )
    direct_w = plan_superstep_edges(cg.direct.join(w, "src"), bcast).persist()
    owners_w = cg.owners.join(w, "src")
    owners_w = (
        owners_w.repartition("vh1", "vh2") if bcast else owners_w.repartition("src")
    ).persist()
    direct_w.count()
    owners_w.count()
    s = state_side(
        verts.select(F.col("id").alias("src"), F.lit(1.0).alias("rank")), bcast
    )
    m_direct = direct_w.join(s, "src").select(
        F.col("dst").alias("id"), (F.col("w") * F.col("rank")).alias("c")
    )
    v_in = (
        owners_w.join(s, "src")
        .groupBy("vh1", "vh2")
        .agg(F.sum(F.col("w") * F.col("rank")).alias("c"))
    )
    m_set = cg.members.join(F.broadcast(v_in), ["vh1", "vh2"]).select(
        F.col("dst").alias("id"), "c"
    )
    msgs = m_direct.unionByName(m_set).groupBy("id").agg(F.sum("c").alias("msg"))
    tag = f"regime={'broadcast' if bcast else 'shuffle'} (V={n})\n"
    # report per branch: the split-at-first-InMemoryRelation exchange count
    # is exact only for single-cache subplans (the union plan prints the
    # second branch after the first cache, where the heuristic stops)
    plans = {
        "m_direct branch": tag + m_direct._jdf.queryExecution().executedPlan().toString(),
        "v_in branch": tag + v_in._jdf.queryExecution().executedPlan().toString(),
        "msgs top": tag + msgs._jdf.queryExecution().executedPlan().toString(),
    }
    direct_w.unpersist()
    owners_w.unpersist()
    cg.unpersist()
    return plans


def _report(title: str, plan: str, max_exchanges: int) -> None:
    # everything below the first InMemoryRelation is the ONE-TIME cache
    # build, not per-superstep work
    top = plan.split("InMemoryRelation", 1)[0]
    print("=" * 72)
    print(f"[{title}]")
    print(top)
    n_ex = top.count("Exchange hashpartitioning")
    verdict = "OK" if n_ex <= max_exchanges else "VIOLATION"
    print(
        f"--> per-superstep Exchange-hash ops (outside the cache): {n_ex} "
        f"(bound {max_exchanges}) {verdict}"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    for forced in (None, "0"):
        if forced is None:
            os.environ.pop("SPARK_GRAFT_BROADCAST_MAX_ROWS", None)
        else:
            os.environ["SPARK_GRAFT_BROADCAST_MAX_ROWS"] = forced
        spark = get_spark(
            app_name=f"plan_audit_{forced}",
            cores=8,
            shuffle_partitions=8,
            extra_conf={
                # make the physical strategy follow our hints, not size stats
                "spark.sql.autoBroadcastJoinThreshold": "-1",
            },
        )
        # PageRank message superstep: 0 exchanges broadcast / 1 shuffle
        _report(
            "pagerank message superstep",
            superstep_plan(spark, sf_dir),
            0 if forced is None else 1,
        )
        # h-operator: broadcast regime reuses the dst partitioning through
        # counts -> window -> max -> join (ZERO exchanges); shuffle regime
        # pays 3 V-row-scale exchanges (state-to-edges, combined counts,
        # window repartition) — never E-sized
        _report(
            "kcore h-operator round",
            hindex_round_plan(spark, sf_dir),
            0 if forced is None else 3,
        )
        # factored-PR message superstep, per branch: broadcast regime —
        # both cached-table branches 0 exchanges, the unioned message
        # combine 1 (the union discards the cached partitioning, unlike
        # plain PR's 0); shuffle regime — m_direct 1 (state meets the
        # cache), v_in 2 (state + per-set combine), msgs top 1.  All
        # V-scale or set-scale, never E-scale.
        fplans = factored_superstep_plan(spark, sf_dir)
        fbounds = (
            {"m_direct branch": 0, "v_in branch": 0, "msgs top": 1}
            if forced is None
            else {"m_direct branch": 1, "v_in branch": 2, "msgs top": 1}
        )
        for name, plan in fplans.items():
            _report(f"factored-PR {name}", plan, fbounds[name])
        spark.stop()


if __name__ == "__main__":
    main()
