"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cooc_sf0.01 --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout.  It starts one local Spark session on
every core this process may use, sets the graph up several times, then runs
the workload's operator calls in passes until ``--seconds`` have elapsed,
checks every result against the oracles and prints the metrics.  With
``--trace 1`` it prints the per-layer counters instead and writes the spans
to ``.perfbench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

SETUPS = 2  # set-ups per run; setup_s reports their median
CALL_TIMEOUT_S = 90  # hard limit for one operator call
DEADLINE_S = 100  # no new pass starts after this much process time
DRIVER_MEMORY = "2g"
JIT_THREADS = (b"C1 CompilerThre", b"C2 CompilerThre")
OP_COUNTERS = [
    "wall_s", "proc_cpu_s", "supersteps", "step_s", "op_setup_s", "final_s", "jobs",
    "tasks", "cpu_s", "shuffle_mb", "driver_gap_s", "task_skew",
]


def metric_units(trace: bool) -> dict[str, str]:
    """Name and unit of every metric a run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def cpu_steal_jiffies() -> int:
    """CPU time the hypervisor gave to other guests (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def tree_cpu_s() -> float:
    """CPU time of this process and all its descendants (the driver JVM and
    Spark's Python workers), children already reaped included.  Time the
    hypervisor stole is not in it."""
    stats = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(pid: int) -> float:
    """CPU time of the JIT compiler threads of the JVM ``pid``."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                head, tail = f.read().rsplit(b")", 1)
        except OSError:
            continue
        if head.split(b"(", 1)[1].startswith(JIT_THREADS):
            total += sum(int(x) for x in tail.split()[11:13])
    return total / os.sysconf("SC_CLK_TCK")


def work_cpu_s(jvm_pid: int) -> float:
    """CPU time of the process tree without the JVM's JIT compiler threads,
    whose share of a call follows the host's timing, not the work."""
    return tree_cpu_s() - jit_cpu_s(jvm_pid)


def settle(cpu, max_s: float = 5.0) -> None:
    """Wait until the process tree is nearly idle by ``cpu()``.  A call can
    leave work running in the JVM for up to a second (0.6 to 1 CPU-s after
    some cooc_sf0.01 calls); without the wait it is charged to the next
    call."""
    t0, c = time.perf_counter(), cpu()
    while time.perf_counter() - t0 < max_s:
        time.sleep(0.05)
        c, prev = cpu(), c
        if c - prev < 0.015:
            return


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class CallTimeout(Exception):
    pass


def _alarm(signum, frame):
    raise CallTimeout()


def stray_jvms() -> list[int]:
    """Pids of ``java`` processes already alive: a leftover Spark JVM keeps
    spinning, shares the cores and skews every timing."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            pids.append(int(pid))
    return pids


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 1e6


def matches(rows, ids, expect, tol) -> bool:
    """``rows`` of (id, value) equal the oracle's ids and values; a null
    value reads as -1 (an unreached vertex)."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    if not np.array_equal(np.array([r[0] for r in rows], np.int64), ids):
        return False
    got = [-1 if r[1] is None else r[1] for r in rows]
    if tol is None:
        return np.array_equal(np.array(got, np.int64), expect)
    return bool(np.allclose(np.array(got, np.float64), expect, rtol=tol, atol=tol))


def prepare_env() -> None:
    """Process settings every session of the benchmark shares."""
    # Spark's python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_BROADCAST_MAX_ROWS", None)
    sys.path.insert(0, ROOT)
    signal.signal(signal.SIGALRM, _alarm)


def start_session(work: str, app: str):
    """One local session on every core this process may use; Spark's local
    and temporary files go under ``work``."""
    import tcr_kcore_spark as eng

    os.environ["TMPDIR"] = tempfile.tempdir = work
    ncores = len(os.sched_getaffinity(0))
    return eng.get_spark(
        app_name=app,
        cores=ncores,
        shuffle_partitions=ncores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            # a fixed heap and young generation keep peak RSS from
            # following GC ergonomics from run to run; the serial collector
            # runs no concurrent GC threads, whose CPU time would follow
            # the host's scheduling rather than the work
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work} -Xms{DRIVER_MEMORY} -Xmn512m -XX:+UseSerialGC"
                # compiler threads live as long as the JVM, so their CPU
                # time can be read and left out of the metrics
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Harness:
    """Runs set-ups and operator calls under spans and keeps the tally of
    attempted and failed calls."""

    def __init__(self, spark, wl, name: str, traced: bool):
        from spans import Recorder

        self.spark, self.wl = spark, wl
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.cpu = lambda: work_cpu_s(self.jvm_pid)
        self.rec = Recorder(spark, name, traced)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.idle_s = 0.0  # spent collecting the heap and waiting for idle

    def outcome(self, what: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def setup(self, layer: str):
        """Build the graph once; returns (graph, edge count, span)."""
        with self.rec.span(layer) as sp:
            c0 = self.cpu()
            g, n_edges = self.wl.build(self.spark)
            with self.rec.span("graph.vertices"):
                g.vertices().count()
            sp["proc_cpu_s"] = self.cpu() - c0
        return g, n_edges, sp

    def collect_heap(self) -> None:
        """A full collection before each pass: every pass starts on the
        same empty heap, so a collection an earlier pass made due is not
        charged to this one."""
        t = time.perf_counter()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        self.idle_s += time.perf_counter() - t

    def call(self, op, g):
        """One timed operator call plus its final collect; returns its
        span, or None when it failed."""
        from tcr_kcore_spark.superstep import release_state

        t = time.perf_counter()
        settle(self.cpu)
        self.idle_s += time.perf_counter() - t
        signal.alarm(CALL_TIMEOUT_S)
        try:
            with self.rec.span(op.name) as sp:
                j0 = jit_cpu_s(self.jvm_pid)
                c0 = self.cpu()
                t0 = time.perf_counter()
                df, stats = op.run(g)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
                c2 = self.cpu()
                j2 = jit_cpu_s(self.jvm_pid)
        except CallTimeout:
            self.spark.sparkContext.cancelAllJobs()
            self.outcome(f"{op.name}: timed out", False)
            return None
        except Exception as exc:  # a raising operator is a failed call
            self.outcome(f"{op.name}: {type(exc).__name__}: {exc}"[:300], False)
            return None
        finally:
            signal.alarm(0)
        release_state(df)
        hist = list(stats.history) if stats is not None else []
        sp.update(
            wall_s=t2 - t0,
            proc_cpu_s=c2 - c0,
            jit_cpu_s=j2 - j0,
            final_s=t2 - t1,
            supersteps=stats.supersteps if stats is not None else 0,
            step_s=statistics.median(hist) if hist else 0.0,
            op_setup_s=max(0.0, (t1 - t0) - sum(hist)),
            local_finish_s=getattr(stats, "local_finish_secs", 0.0),
            outer_rounds=getattr(stats, "outer_rounds", 0),
            checkpoints=getattr(stats, "checkpoints", 0),
        )
        if not matches(rows, self.wl.oracle.ids, op.expect, op.tol):
            self.outcome(f"{op.name}: wrong result", False)
        else:
            self.outcome(f"{op.name}: unexpected stats {stats}"[:300], op.check is None or op.check(stats))
        return sp


def measure(args, work: str) -> dict:
    from workloads import WORKLOADS

    t_proc = time.monotonic()
    steal0 = cpu_steal_jiffies()
    wl = WORKLOADS[args.workload](args.seed, work)
    os.environ.update(wl.regime)
    c0, t0 = tree_cpu_s(), time.perf_counter()
    spark = start_session(work, f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        h = Harness(spark, wl, args.workload, bool(args.trace))
        session_cpu_s = h.cpu() - c0
        builds, g = [], None
        for _ in range(SETUPS):
            if g is not None:
                wl.release(g)
            g, n_edges, sp = h.setup(wl.layer)
            builds.append(sp)
        for what, ok in wl.setup_checks(spark, g, n_edges):
            h.outcome(f"setup {what}", ok)
        build_s = [sp["end"] - sp["start"] for sp in builds]
        log(
            f"session {session_s:.2f}s ({session_cpu_s:.2f} CPU-s), {wl.layer} "
            + " ".join(f"{s:.2f}s ({sp['proc_cpu_s']:.2f} CPU-s)" for s, sp in zip(build_s, builds))
        )

        ops = wl.ops()
        passes = []
        t_window = time.monotonic()
        while not passes or (
            time.monotonic() - t_window < args.seconds and time.monotonic() - t_proc < DEADLINE_S
        ):
            h.collect_heap()
            spans = [h.call(op, g) for op in ops]
            passes.append({op.name: sp for op, sp in zip(ops, spans) if sp is not None})
            log(f"pass {len(passes)}: " + " ".join(
                f"{k} {sp['wall_s']:.2f}s ({sp['proc_cpu_s']:.2f} CPU-s, JIT {sp['jit_cpu_s']:.2f})"
                for k, sp in passes[-1].items()
            ))
            if None in spans:
                break  # a failed call leaves no steady state to measure
        rss = peak_rss_mb(h.jvm_pid)
        checkpoint_mb = dir_mb(os.path.join(work, "checkpoints"))
        wl.release(g)
    finally:
        stop_spark(spark)
    steal_s = (cpu_steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")
    log(
        f"{time.monotonic() - t_proc:.1f}s in all ({h.idle_s:.1f}s idle before calls), {SETUPS} set-ups, "
        f"{len(passes)} passes, "
        f"{steal_s:.1f} CPU-s stolen by the host"
    )

    def per_pass(key, op):
        return median(p[op][key] for p in passes if op in p)

    units = metric_units(bool(args.trace))
    if not args.trace:
        iterative = [
            (sum(sp["supersteps"] * n_edges for sp in p.values()),
             sum(sp["proc_cpu_s"] for sp in p.values() if sp["supersteps"]))
            for p in passes
        ]
        metrics = {
            "setup_s": session_cpu_s + statistics.median(sp["proc_cpu_s"] for sp in builds),
            "analytics_cpu_s": median(sum(sp["proc_cpu_s"] for sp in p.values()) for p in passes),
            "superstep_edges_per_cpu_s": median(e / c for e, c in iterative if c),
            "jvm_peak_rss_mb": rss,
        }
    else:
        metrics = dict.fromkeys(units, 0.0)
        metrics["session.start_s"] = session_s
        metrics[f"{wl.layer}.s"] = statistics.median(build_s)
        metrics[f"{wl.layer}.jobs"] = median(sp["jobs"] for sp in builds)
        if wl.layer == "build":
            metrics["build.shuffle_mb"] = median(sp["shuffle_mb"] for sp in builds)
        metrics["graph.vertices_s"] = median(
            s["end"] - s["start"] for s in h.rec.spans if s["name"] == "graph.vertices"
        )
        ran = {op for p in passes for op in p}
        for op in ran:
            for c in OP_COUNTERS:
                metrics[f"{op}.{c}"] = per_pass(c, op)
        if "kcore" in ran:
            metrics["kcore.local_finish_s"] = per_pass("local_finish_s", "kcore")
        if "scc" in ran:
            metrics["scc.outer_rounds"] = per_pass("outer_rounds", "scc")
        if "resume" in ran:
            metrics["superstep.checkpoints"] = per_pass("checkpoints", "pagerank")
            metrics["superstep.checkpoint_mb"] = checkpoint_mb
        metrics["analytics.wall_s"] = median(sum(sp["wall_s"] for sp in p.values()) for p in passes)
        metrics["analytics.jit_cpu_s"] = median(sum(sp["jit_cpu_s"] for sp in p.values()) for p in passes)
        calls_s = sum(sp["wall_s"] for p in passes for sp in p.values())
        metrics["trace.overhead_pct"] = 100.0 * h.rec.overhead_s / calls_s if calls_s else 0.0
        h.rec.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
    if metrics.keys() != units.keys():
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {metrics.keys() ^ units.keys()}")
    for e in h.errors:
        log(f"FAILED {e}")
    return {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tcr_kcore_spark")):
        log("engine package tcr_kcore_spark not found in the checkout")
        return 2
    stray = stray_jvms()
    if stray:
        log(f"refusing to start, java processes alive: {stray}")
        return 3
    prepare_env()
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
