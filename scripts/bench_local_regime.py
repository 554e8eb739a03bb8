"""Interleaved fresh-JVM A/B of the driver-local regime against the
distributed plans (``SPARK_GRAFT_BROADCAST_MAX_ROWS=0``) for the kcore
(hindex) and triangles cells on the co-occurrence graph of the tables in
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 tables, as ``bench.py``), optionally
expanded to K disjoint id-shifted copies (``bench._expanded_graph``) to
push the triangle kernel's wedge count up.

Usage:
    python scripts/bench_local_regime.py [--pairs 3] [--copies 1,3] [--cells kcore,triangles]
        [--max-wedges N]

``--max-wedges`` replaces ``triangles.LOCAL_MAX_WEDGES`` in the measured
process, so the local arm can be timed above the shipped constant.

Each run is a fresh Python + JVM (``--one`` mode) that builds and
materializes the graph, then times one operator call plus a count of its
result.  The two regimes alternate, and the leading one swaps every pair.
Each run appends one JSON row to ``BENCH/local_regime.jsonl`` and prints it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "BENCH", "local_regime.jsonl")


def one(cell: str, copies: int, max_wedges: int | None) -> dict:
    sys.path.insert(0, ROOT)
    from bench import _build, _expanded_graph, _session
    from bench_extra import SF_DIR  # $SPARK_GRAFT_SF_DIR or the sf0.1 tables
    from tcr_kcore_spark.operators import triangles

    if max_wedges is not None:
        triangles.LOCAL_MAX_WEDGES = max_wedges

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = _session(cpus, f"local_regime_{cell}")
    g, n_edges = _build(spark, SF_DIR) if copies == 1 else _expanded_graph(spark, SF_DIR, copies)
    t0, c0 = time.time(), time.process_time()
    if cell == "kcore":
        from tcr_kcore_spark.operators import kcore

        out, st = kcore(g)
        regime = "local" if st.local_finish_secs else "distributed"
    else:
        out = triangles.triangles_per_vertex(g)
        regime = out.regime
    n = out.count()
    row = {
        "cell": cell,
        "copies": copies,
        "edges": n_edges,
        "rows": n,
        "regime": regime,
        "wall_s": round(time.time() - t0, 3),
        "driver_py_cpu_s": round(time.process_time() - c0, 3),
        "cpus": cpus,
    }
    spark.stop()
    return row


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--copies", default="1")
    ap.add_argument("--cells", default="kcore,triangles")
    ap.add_argument("--max-wedges", type=int)
    ap.add_argument("--one", nargs=2, metavar=("CELL", "COPIES"))
    a = ap.parse_args()
    if a.one:
        print(json.dumps(one(a.one[0], int(a.one[1]), a.max_wedges)), flush=True)
        return
    extra = [] if a.max_wedges is None else ["--max-wedges", str(a.max_wedges)]
    arms = {"local": {}, "distributed": {"SPARK_GRAFT_BROADCAST_MAX_ROWS": "0"}}
    for cell in a.cells.split(","):
        for copies in (int(c) for c in a.copies.split(",")):
            for p in range(a.pairs):
                order = ["local", "distributed"] if p % 2 == 0 else ["distributed", "local"]
                for arm in order:
                    env = {**os.environ, **arms[arm]}
                    res = subprocess.run(
                        [sys.executable, __file__, "--one", cell, str(copies), *extra],
                        env=env, capture_output=True, text=True, check=True,
                    )
                    row = json.loads(res.stdout.strip().splitlines()[-1])
                    row.update(
                        arm=arm, pair=p, max_wedges=a.max_wedges,
                        ts=time.strftime("%Y-%m-%dT%H:%M:%S"),
                    )
                    with open(OUT, "a") as f:
                        f.write(json.dumps(row) + "\n")
                    print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
