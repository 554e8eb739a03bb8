"""kcore peel mode at scale (VERDICT r3 item #7): the full shrink-cadence +
checkpointless peel + BZ-finisher pipeline on the 64x disjoint expansion of
the sf0.1 co-occurrence graph (~153M symmetric-table entries, 1.28M
vertices), one fresh JVM.  Reports rounds / shrinks / finisher-task seconds
broken out, appending to BENCH/peel_scale.jsonl.

Usage: python scripts/bench_peel_scale.py [copies] [mode] [n_blocks]
  mode: "cascade" (default — ADAPTIVE hybrid local+global rounds: the
  in-block edge fraction picks the first round type, measured throughput
  the later ones) or "legacy" (one-level-per-round global peel, the
  pre-r5 shape, for A/B).
  n_blocks: override the cascade block count.  The 64-copy graph holds
  20k-vertex components on contiguous id ranges; the default (=shuffle
  partitions, 32) aligns blocks with component boundaries (every block
  CLOSED — the best case).  An n_blocks that does not divide the copy
  layout (e.g. 48) makes every block straddle components, forcing real
  cross-block boundary-decrement rounds — the open-block general case.
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import _expanded_graph, _session


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 64
    mode = sys.argv[2] if len(sys.argv) > 2 else "cascade"
    n_blocks = int(sys.argv[3]) if len(sys.argv) > 3 else None
    scramble = "scramble" in sys.argv[4:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from tcr_kcore_spark.operators import kcore

    spark = _session(cpus, "bench_peel_scale")
    g, n_edges = _expanded_graph(spark, sf_dir, copies, disjoint=True)
    if scramble:
        # permute ids by a fixed multiplier coprime to V: the isomorphic
        # graph with ids spread uniformly across blocks (in-block edge
        # fraction ~1/n_blocks) — the unaligned-id layout real edge tables
        # arrive in, where the prior must open with legacy rounds
        from pyspark.sql import functions as F

        from tcr_kcore_spark.graph import LinkGraph

        n_ids = 1 + g.edges.agg(F.max(F.greatest("src", "dst"))).first()[0]
        mult = 1_000_003  # prime > any copy count * 20k, coprime to n_ids
        while n_ids % mult == 0:
            mult += 2
        e = g.edges.select(
            ((F.col("src") * mult) % n_ids).alias("src"),
            ((F.col("dst") * mult) % n_ids).alias("dst"),
        )
        g = LinkGraph(e, directed=False)
        n_edges = g.materialize()
    n_verts = g.vertices().count()
    relabel_secs = None
    if "relabel" in sys.argv[4:]:
        # structure-aware renumber (plans/layout.py) before the peel: the
        # one-time layout fix that turns the scrambled case back into the
        # aligned case; timed separately so the amortization trade is explicit
        from tcr_kcore_spark.plans.layout import locality_relabel

        tr = time.time()
        g, _, _ = locality_relabel(g)
        g = g.cache()
        g.materialize()
        relabel_secs = round(time.time() - tr, 1)
    t = time.time()
    kc, st = kcore(
        g, mode="peel", local_cascade=(mode == "cascade"), n_blocks=n_blocks
    )
    n_rows = kc.count()
    wall = round(time.time() - t, 1)
    row = {
        "copies": copies,
        "cpus": cpus,
        "mode": mode,
        "n_blocks": n_blocks,
        "scramble": scramble,
        "relabel_secs": relabel_secs,
        "local_edge_frac": round(st.local_edge_frac, 4),
        "edges": n_edges,
        "vertices": n_verts,
        "result_rows": n_rows,
        "rounds": st.supersteps,
        "cascade_rounds": st.cascade_rounds,
        "actions": st.actions,
        "shrinks": st.shrinks,
        "local_finish_secs": st.local_finish_secs,
        "wall_secs": wall,
        "kcore_edges_per_sec": round(st.supersteps * n_edges / wall, 0),
    }
    print(json.dumps(row), flush=True)
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/peel_scale.jsonl", "a") as f:
        f.write(json.dumps(row) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
