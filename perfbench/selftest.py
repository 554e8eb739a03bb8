"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py          # check
    python3 perfbench/selftest.py --pin    # rewrite expected.json

In one Spark session it runs every workload at smoke size (seed 0) through
the same harness as ``run.py``, traced, and checks that:

- the oracles still give the results pinned in ``expected.json``;
- every engine call matches its oracle and every span has its counters;
- a deliberately perturbed result, a call that raises and a resume that
  ignores its checkpoint each count as one failed call;
- where the repository's test oracles are importable, the NumPy oracles
  agree with them on a small random graph.

Exits 0 when all checks pass.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

import numpy as np

import run
import workloads
from workloads import Op

EXPECTED = os.path.join(run.HERE, "expected.json")
SPAN_KEYS = {"jobs", "stages", "tasks", "cpu_s", "run_s", "shuffle_mb", "task_skew", "driver_gap_s"}


class SmokeCooc(workloads.Cooc):
    orders, parts = 1_500, 200  # the sf0.001 table shape


# the tiny corpus is already smoke-sized
SMOKE = {"cooc_sf0.01": SmokeCooc, "corpus_tiny_shuffle": workloads.CorpusShuffle}


def digest(a: np.ndarray) -> str:
    a = np.round(a, 6) if a.dtype.kind == "f" else a
    return hashlib.sha256(np.ascontiguousarray(a).tobytes()).hexdigest()[:16]


def oracle_digests(wl) -> dict[str, str]:
    return {op.name: digest(op.expect) for op in wl.ops()}


def compare_oracles() -> list[str]:
    """The NumPy oracles against the repository's pure-Python test oracles."""
    sys.path.insert(0, run.ROOT)
    try:
        from tests import oracles as ref
    except ImportError:
        return []
    import oracle

    edges = ref.er_graph(n=120, avg_deg=6, seed=3)
    g = oracle.Graph([s for s, _ in edges], [d for _, d in edges]).symmetric()
    sym = list(zip(g.src.tolist(), g.dst.tolist()))
    ids = g.ids.tolist()
    dist = ref.bfs(edges, ids[0])
    checks = {
        "pagerank": (oracle.pagerank(g, 1e-6, 100), ref.pagerank(sym, tol=1e-6)),
        "components": (oracle.components(g), ref.components(edges)),
        "coreness": (oracle.coreness(g), ref.coreness(edges)),
        "triangles": (oracle.triangles(g), ref.triangles(edges)),
        "lpa": (oracle.lpa(g, 2), ref.lpa(edges, 2)),
        "bfs": (oracle.bfs(g, ids[0]), {k: -1 if v is None else v for k, v in dist.items()}),
    }
    return [
        name
        for name, (got, want) in checks.items()
        if not np.allclose(got, [want[i] for i in ids], rtol=1e-6, atol=1e-6)
    ]


def main() -> int:
    pin = "--pin" in sys.argv
    run.prepare_env()
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    problems = [f"oracle {name} disagrees with tests/oracles.py" for name in compare_oracles()]
    pinned = {} if pin else json.load(open(EXPECTED))
    digests = {}
    spark = run.start_session(work, "perfbench-selftest")
    try:
        for name, cls in SMOKE.items():
            wl = cls(0, os.path.join(work, name))
            os.environ.pop("SPARK_GRAFT_BROADCAST_MAX_ROWS", None)
            os.environ.update(wl.regime)
            digests[name] = oracle_digests(wl)
            if not pin and digests[name] != pinned[name]:
                problems.append(f"{name}: oracle results differ from expected.json")
            h = run.Harness(spark, wl, name, traced=True)
            g, n_edges, _ = h.setup(wl.layer)
            for what, ok in wl.setup_checks(spark, g, n_edges):
                h.outcome(f"setup {what}", ok)
            for op in wl.ops():
                sp = h.call(op, g)
                if sp is not None and not SPAN_KEYS <= sp.keys():
                    problems.append(f"{name}: span {op.name} lacks {SPAN_KEYS - sp.keys()}")
            if h.failed:
                problems.append(f"{name}: {h.errors}")
            # a wrong answer and a raising call must each count as failed
            first = wl.ops()[0]
            bad = [
                Op(first.name, lambda g, op=first: _perturb(*op.run(g)), first.expect, first.tol),
                Op("raises", lambda g: 1 / 0, first.expect),
            ]
            resume = next((op for op in wl.ops() if op.name == "resume"), None)
            if resume is not None:
                # ignores the checkpoint: the same ranks, but no resume
                bad.append(Op("resume", lambda g: wl.pagerank(g, False), resume.expect, resume.tol, resume.check))
            before = h.failed
            for op in bad:
                h.call(op, g)
            if h.failed - before != len(bad):
                problems.append(f"{name}: a perturbed, raising or non-resuming call not counted as failed")
            wl.release(g)
            print(f"selftest: {name} ok, {h.attempted} calls", flush=True)
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if pin:
        with open(EXPECTED, "w") as f:
            json.dump(digests, f, indent=2, sort_keys=True)
            f.write("\n")
    for p in problems:
        print(f"selftest: FAILED {p}", file=sys.stderr)
    print("selftest: " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def _perturb(df, stats):
    """Add one to the result value of the smallest vertex id."""
    from pyspark.sql import functions as F

    key, val = df.columns[:2]
    first = df.agg(F.min(key)).first()[0]
    return df.withColumn(val, F.when(F.col(key) == first, F.col(val) + 1).otherwise(F.col(val))), stats


if __name__ == "__main__":
    sys.exit(main())
