"""Superstep driver: the engine's execution loop.

Reference mapping: ``GASProgram.compute`` + ``SimpleStrategy.compute``
(``TCR/src/framework/strategy/SimpleStrategy.py:43-77``) run gather → sum →
apply → scatter until the activation mask empties.  Here each superstep is a
function ``state -> state`` built from DataFrame ops; the driver loop
(``run_supersteps``)

- persists the new state and unpersists the previous one (double-buffering,
  the Spark analog of the reference's mask swap at ``SimpleStrategy.py:55-63``),
- truncates lineage every ``checkpoint_every`` supersteps by writing the
  state to Parquet and re-reading it (the "hard reset" pattern — without it
  the logical plan grows linearly with supersteps and planning time blows up),
- writes a JSON manifest per checkpoint with the step number, row count,
  per-partition row/byte metrics and the input fingerprint, enabling
  mid-iteration resume (north_rule requirement; generalizes the reference's
  deleted-bitmap checkpoint, ``TCR/src/demo/KCore_big.py:252-259``),
- releases its live state when a step, a convergence check or a checkpoint
  write raises.

A vertex program's convergence is observed, not a separate action: the
step's output carries an aggregate (``max(delta)`` or a frontier count)
that ``ObservedConvergence`` reads off the state's materialization job —
the analog of the reference's all-reduce termination vote
(``KCore_big.py:227-243``), global by construction in Spark.  (A
``converged`` callback may still run actions, e.g. the edge-set
comparison of the small-star components.)

``vertex_program`` is the one set-up every vertex-program operator runs
through: it takes the vertex set, picks the broadcast/shuffle regime from
its size, takes the edge table partitioned for that regime, wires the
observed halt into ``run_supersteps`` and frees every cache it made on
normal and error exits alike.  On a materialized graph the vertex set, its
count and the edge layouts are the graph's own, built once and shared by
every call (``graph.py``); the program neither persists nor frees them.

A program that also gives its driver-local form (``VertexProgram.run``'s
``local``, a :class:`LocalProgram` over NumPy arrays) runs that instead
when the graph is inside the driver-local regime
(``plans.partitioning.local_regime``, checked in ``run`` for every such
program): one Arrow collect of the edge rows, the same synchronous rounds
and halt test in NumPy, a local relation back — the reference's
single-device strategy for a graph that fits (``SimpleStrategy.compute``,
``TCR/src/framework/strategy/SimpleStrategy.py:43-77``).
``SuperstepStats.regime`` says which ran.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import time
import warnings
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Callable, Iterator

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from tcr_kcore_spark.graph import LinkGraph

# scratch dirs created by the parquet fallback of truncate_lineage; freed in
# release_state once the consumer is done, and swept at exit as a backstop
_SCRATCH_DIRS: set[str] = set()

# one-shot flag: warn only once per process if the py4j accessor that stashes
# the checkpointed JVM RDD (release_state's handle) stops resolving
_WARNED_JRDD_ACCESSOR = False


def _sweep_scratch() -> None:
    for d in list(_SCRATCH_DIRS):
        shutil.rmtree(d, ignore_errors=True)
        _SCRATCH_DIRS.discard(d)


atexit.register(_sweep_scratch)


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and return an equivalent DataFrame whose logical
    plan is a bare scan — the load-bearing primitive of the whole engine.

    Two separate growth modes must be cut every superstep:

    1. *plan growth*: step functions reference the previous state twice, so
       the analyzed plan doubles per iteration (persist() truncates
       execution, not analysis);
    2. *statistics growth*: ``localCheckpoint`` snapshots the child plan's
       estimated ``sizeInBytes`` into the new ``LogicalRDD``
       (``originStats``), and join size estimation multiplies child sizes —
       so the BigInt stat's bit-length doubles per superstep and Catalyst
       ends up spending minutes in ``BigInteger.multiply`` (measured: 0.3s
       → 70s per superstep by iteration ~20).

    Fix: localCheckpoint (materializes to cached blocks, cuts the plan),
    then re-wrap the checkpointed RDD in a fresh LogicalRDD *without* the
    inherited stats via ``internalCreateDataFrame`` (the same internal
    constructor PySpark's Arrow path uses).  Falls back to a parquet
    round-trip if the internal API is unavailable.
    """
    ck = df.localCheckpoint(eager=True)
    spark = ck.sparkSession
    try:
        jdf = ck._jdf
        jrdd = jdf.queryExecution().toRdd()
        jschema = jdf.schema()
        new_jdf = spark._jsparkSession.internalCreateDataFrame(jrdd, jschema, False)
        out = DataFrame(new_jdf, spark)
        # The handle release_state must free: localCheckpoint persists the
        # LogicalRDD's underlying RDD directly in the block manager — it is
        # NOT in the CacheManager, so DataFrame.unpersist() is a silent
        # no-op on it.  Stash the JVM RDD itself.
        try:
            out._ckpt_jrdd = jdf.queryExecution().analyzed().rdd()
        except Exception as exc:  # pragma: no cover - py4j accessor drift
            # Without the JVM RDD handle release_state silently reverts to
            # the session-long block leak; warn ONCE so production runs get
            # a signal (tests catch it via test_truncate_release_frees_blocks).
            global _WARNED_JRDD_ACCESSOR
            if not _WARNED_JRDD_ACCESSOR:
                _WARNED_JRDD_ACCESSOR = True
                warnings.warn(
                    "truncate_lineage: could not stash checkpointed JVM RDD "
                    f"({exc!r}); release_state will leak localCheckpoint "
                    "blocks for this session",
                    RuntimeWarning,
                )
    except Exception:
        import tempfile

        path = tempfile.mkdtemp(prefix="lineage_trunc_")
        _SCRATCH_DIRS.add(path)
        ck.write.mode("overwrite").parquet(path)
        ck.unpersist()
        out = spark.read.parquet(path)
        out._scratch_dir = path  # release_state deletes it
        return out
    out._ckpt_source = ck  # keep a handle so release_state can free blocks
    return out


def checkpoint_block(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` that KEEPS the plan's partitioning metadata.

    ``truncate_lineage`` rewraps the checkpointed RDD in a stat-less
    LogicalRDD, which also drops ``outputPartitioning`` — correct for
    per-superstep state (where carried stats grow exponentially), but wrong
    for a long-lived co-partitioned table (the hybrid peel's blocked edge
    set): losing the hash-partitioning metadata would make every
    subsequent cogroup re-exchange the E-row side.  Here the plain
    ``localCheckpoint`` frame is returned as-is — its LogicalRDD carries
    the child's physical partitioning — and only the release handle is
    stashed.  Safe because the table is re-checkpointed O(log) times per
    run (shrink events), and each layer's join-stat growth over fresh
    truncated V-row frames is additive, not the per-superstep doubling
    truncate_lineage exists to cut.  Lineage IS cut (localCheckpoint), so
    the frame has no dependency on previously released upstream blocks."""
    ck = df.localCheckpoint(eager=True)
    try:
        ck._ckpt_jrdd = ck._jdf.queryExecution().analyzed().rdd()
    except Exception:  # pragma: no cover - py4j accessor drift
        global _WARNED_JRDD_ACCESSOR
        if not _WARNED_JRDD_ACCESSOR:
            _WARNED_JRDD_ACCESSOR = True
            warnings.warn(
                "checkpoint_block: could not stash checkpointed JVM RDD; "
                "release_state will leak localCheckpoint blocks for this "
                "session",
                RuntimeWarning,
            )
    return ck


def propagate_release(out: DataFrame, source: DataFrame) -> DataFrame:
    """Attach ``source``'s release handles to ``out`` so that
    ``release_state(out)`` frees the blocks/scratch behind ``source``
    (used when an operator returns a lazy view over a truncated frame)."""
    src = getattr(source, "_ckpt_source", None)
    out._ckpt_source = src if src is not None else source
    jrdd = getattr(source, "_ckpt_jrdd", None)
    if jrdd is not None:
        out._ckpt_jrdd = jrdd
    scratch = getattr(source, "_scratch_dir", None)
    if scratch:
        out._scratch_dir = scratch
    return out


def release_state(df: DataFrame) -> None:
    """Free the cached blocks (or scratch parquet) behind a
    truncate_lineage() result.  The frame must not be read afterwards —
    its lineage is a bare scan of the freed blocks."""
    jrdd = getattr(df, "_ckpt_jrdd", None)
    if jrdd is not None:
        try:
            jrdd.unpersist(False)
        except Exception:
            pass
    src = getattr(df, "_ckpt_source", None)
    try:
        (src if src is not None else df).unpersist()
    except Exception:
        pass
    scratch = getattr(df, "_scratch_dir", None)
    if scratch:
        shutil.rmtree(scratch, ignore_errors=True)
        _SCRATCH_DIRS.discard(scratch)


class ObservedConvergence:
    """Collect the per-superstep convergence scalar DURING the state
    materialization job instead of with a separate driver action.

    ``step_fn`` attaches an aggregate expression to its output frame via
    :meth:`attach`; the ``CollectMetrics`` node is a data pass-through, so
    the plan's rows are unchanged, and the metric is computed while
    ``truncate_lineage`` materializes the state (run_supersteps always
    materializes eagerly before calling ``converged``).  ``take`` then
    returns the LAST attached step's observed row without launching a job
    — replacing the r5 pattern of one extra ``agg``/``count`` job per
    convergence check.  Returns None when nothing was attached.

    With ``truncate_every > 1`` several chained steps attach observations;
    all of them fire inside the one chained job and ``take`` reads the
    last (the state the convergence check is about)."""

    # bound on draining the listener bus before declaring a frame unrun
    _DRAIN_MS = 10_000

    def __init__(self) -> None:
        self._pending: list = []
        self._attached = 0
        self._sc = None

    def attach(self, df: DataFrame, *exprs) -> DataFrame:
        from pyspark.sql import Observation

        ob = Observation()
        self._pending.append(ob)
        self._attached += 1
        self._sc = df.sparkSession.sparkContext
        return df.observe(ob, *exprs)

    def take(self) -> dict | None:
        """Observed row of the most recently attached step (the others,
        if any, fired in the same job and are discarded).  Raises
        RuntimeError if that step's frame never ran — ``Observation.get``
        would wait forever."""
        if not self._pending:
            return None
        last = self._pending[-1]
        self._pending.clear()
        if not last._jo.future().isCompleted():
            # the observation completes from a query-execution listener, so
            # it lags the job that ran it; drain the listener bus once
            # before concluding the frame never ran
            try:
                self._sc._jsc.sc().listenerBus().waitUntilEmpty(self._DRAIN_MS)
            except Py4JJavaError:  # TimeoutException: the check below decides
                pass
            if not last._jo.future().isCompleted():
                raise RuntimeError(
                    f"ObservedConvergence.take: observed step {self._attached} "
                    "never ran — materialize the frame returned by attach() "
                    "before take()"
                )
        return last.get


@dataclass
class SuperstepStats:
    """Telemetry for one run — feeds bench.py's supersteps/sec metric."""

    supersteps: int = 0
    wall_secs: float = 0.0
    converged: bool = False
    checkpoints: int = 0
    resumed_from: int | None = None
    history: list = field(default_factory=list)
    # peel-mode extras (kcore): edge-set re-materializations and the wall
    # time of the single-task BZ local finisher (0.0 = finisher not taken)
    shrinks: int = 0
    local_finish_secs: float = 0.0
    # driver-side action count (peel mode): jobs issued by the loop itself —
    # the scale-out budget tests assert it stays O(rounds + log(rounds))
    actions: int = 0
    # adaptive hybrid peel: how many rounds ran the per-block cascade
    # kernel (the rest were legacy decrement rounds chosen by the probe)
    cascade_rounds: int = 0
    # measured in-block edge fraction of the blocked layout (cascade mode
    # only; -1.0 = not measured) — the prior that seeds the round type
    local_edge_frac: float = -1.0
    # scc: forward-backward coloring outer rounds (each runs one joint
    # fixpoint; supersteps counts trim levels + each direction's rounds)
    outer_rounds: int = 0
    # the physical regime that ran: "local" (driver-local NumPy),
    # "broadcast" or "shuffle" (vertex_program's Spark regimes); "" for
    # runs that pick none (kcore peel, smallstar components, scc)
    regime: str = ""

    @property
    def supersteps_per_sec(self) -> float:
        return self.supersteps / self.wall_secs if self.wall_secs else 0.0


def _partition_metrics(df: DataFrame) -> list[dict]:
    """Per-partition row counts (the manifest's lineage metrics)."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    )
    return [{"pid": r["pid"], "rows": r["rows"]} for r in rows]


def _write_checkpoint(
    state: DataFrame, ckpt_dir: str, step: int, name: str, fingerprint: str
) -> DataFrame:
    """Write state to Parquet + manifest, return the re-read DataFrame
    (lineage truncated)."""
    path = os.path.join(ckpt_dir, f"step={step:06d}")
    state.write.mode("overwrite").parquet(path)
    spark = state.sparkSession
    reread = spark.read.parquet(path)
    # one grouped query gives both the per-partition and the total rows
    partitions = _partition_metrics(reread)
    manifest = {
        "name": name,
        "step": step,
        "rows": sum(p["rows"] for p in partitions),
        "schema": reread.schema.simpleString(),
        "partitions": partitions,
        "input_fingerprint": fingerprint,
        "wall_time": time.time(),
        "path": path,
    }
    with open(os.path.join(ckpt_dir, f"manifest_{step:06d}.json"), "w") as f:
        json.dump(manifest, f)
    with open(os.path.join(ckpt_dir, "LATEST"), "w") as f:
        f.write(str(step))
    return reread


def latest_checkpoint(ckpt_dir: str) -> tuple[int, str] | None:
    """Return (step, parquet_path) of the newest complete checkpoint."""
    latest = os.path.join(ckpt_dir, "LATEST")
    if not os.path.exists(latest):
        return None
    with open(latest) as f:
        step = int(f.read().strip())
    manifest_path = os.path.join(ckpt_dir, f"manifest_{step:06d}.json")
    with open(manifest_path) as f:
        manifest = json.load(f)
    return step, manifest["path"]


def _check_resume_schema(ckpt_dir: str, step: int, init: DataFrame) -> None:
    """Refuse to resume from a checkpoint whose state schema is not the
    one the operator now starts from (e.g. written before its state gained
    a column): the mismatch would otherwise surface deep inside a join."""
    with open(os.path.join(ckpt_dir, f"manifest_{step:06d}.json")) as f:
        saved = json.load(f)["schema"]
    want = init.schema.simpleString()
    if saved != want:
        raise ValueError(
            f"cannot resume from {ckpt_dir} step {step}: checkpoint state "
            f"schema {saved} differs from the init state schema {want}"
        )


def run_supersteps(
    state: DataFrame,
    step_fn: Callable[[DataFrame, int], DataFrame],
    converged: Callable[[DataFrame, DataFrame, int], bool] | None = None,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    name: str = "superstep",
    fingerprint: str = "",
    resume: bool = False,
    stats: SuperstepStats | None = None,
    truncate_every: int = 1,
    truncate_init: bool = True,
) -> tuple[DataFrame, SuperstepStats]:
    """Run ``state = step_fn(state, i)`` until ``converged`` or ``max_iter``.

    ``converged(prev, new, i)`` runs AFTER the new state is materialized; it
    may run actions (e.g. ``agg(max(delta))``).  When ``checkpoint_dir`` is
    set, state is checkpointed every N steps with a manifest; ``resume=True``
    restarts from the latest manifest instead of ``state`` and raises
    ``ValueError`` when the manifest's schema is not ``state``'s.

    ``truncate_every > 1`` lets K supersteps chain lazily into ONE Spark job
    before materializing/truncating — amortizing the fixed per-job cost
    (scheduling, broadcast build, truncation) across K supersteps.  The
    convergence check then also runs every K steps, so a tol-based run may
    execute up to K-1 extra (harmless, monotone-converging) supersteps.
    Plan/stat growth stays bounded because K is small.
    """
    st = stats or SuperstepStats()
    start_step = 0
    spark = state.sparkSession

    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
    if resume and checkpoint_dir:
        found = latest_checkpoint(checkpoint_dir)
        if found is not None:
            start_step, path = found
            _check_resume_schema(checkpoint_dir, start_step, state)
            state = spark.read.parquet(path)
            st.resumed_from = start_step

    t0 = time.time()
    # truncate_lineage EVERY superstep — see its docstring for why both the
    # plan and the carried statistics must be cut.  ``truncate_init=False``
    # skips the INITIAL truncation only (r6): when the init state is a
    # trivial projection of an operator-persisted table, materializing it
    # is one pure-overhead job — round 1 just re-reads the cached source
    # (a second cheap scan per consumer), and round 1's OUTPUT truncation
    # still cuts plan/stat growth before it can compound.
    if truncate_init:
        state = truncate_lineage(state)
    i = start_step
    new_state = state
    held: list[DataFrame] = []
    try:
        while i < max_iter:
            t_step = time.time()
            prev = state
            lazy = state
            k = 0
            held = []
            while k < truncate_every and i + k < max_iter:
                lazy = step_fn(lazy, i + k)
                k += 1
                if k < truncate_every and i + k < max_iter:
                    # Intermediate chained state: the NEXT step's plan consumes
                    # it several times (message join, apply join, changed-set
                    # pruning), and without a cache the whole subtree — window
                    # aggregations included — re-evaluates per consumer inside
                    # the one chained job.  persist() is lazy, so the chain
                    # still runs as a single job; the cache is dropped as soon
                    # as the chain materializes.  K is small, so the plan/stat
                    # growth within one chain stays trivial (truncate_lineage
                    # cuts it at the chain boundary).
                    lazy = lazy.persist()
                    held.append(lazy)
            new_state = truncate_lineage(lazy)
            for h in held:
                h.unpersist()
            i += k
            st.supersteps += k
            done = bool(converged(prev, new_state, i)) if converged else False
            st.history.append(round(time.time() - t_step, 3))
            release_state(prev)
            state = new_state
            if checkpoint_dir and (done or i % checkpoint_every == 0):
                reread = _write_checkpoint(state, checkpoint_dir, i, name, fingerprint)
                release_state(state)
                state = truncate_lineage(reread)
                st.checkpoints += 1
            if done:
                st.converged = True
                break
    except BaseException:
        # error exit: free the chain caches and both live states (release
        # is idempotent, so a state already released is harmless here)
        for h in held:
            h.unpersist()
        release_state(state)
        release_state(new_state)
        raise
    st.wall_secs += time.time() - t0
    return state, st


@dataclass
class LocalProgram:
    """A vertex program's driver-local form over the ``dense_rows`` arrays
    ``(ids, s, d)`` of its graph's edge rows: ``state`` the init state,
    ``step(state, i)`` superstep ``i`` (the distributed step's synchronous
    round), ``result(state)`` the ``{column: array}`` output beside
    ``id``, and ``halt(state)`` the halt test on a step's output (None:
    run ``max_iter`` supersteps)."""

    state: object
    step: Callable[[object, int], object]
    result: Callable[[object], dict]
    halt: Callable[[object], bool] | None = None


class VertexProgram:
    """Handle yielded by :func:`vertex_program`."""

    verts: DataFrame  # persisted, one row per vertex
    n: int  # its row count
    bcast: bool  # the regime: broadcast the V-row state?

    def __init__(self, graph: LinkGraph | None = None) -> None:
        self._graph = graph
        self._edges: DataFrame | None = None
        self._held: list[DataFrame] = []

    def keep(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` for the whole program; freed on exit.  A table
        the graph owns is returned as it is: the graph frees it."""
        if self._graph is not None and any(df is t for t in self._graph.owned_caches()):
            return df
        df = df.persist()
        self._held.append(df)
        return df

    @property
    def edges(self) -> DataFrame | None:
        """The edges partitioned for the regime, persisted.  Without an
        ``edges`` argument: the graph's ``(src, dst)`` superstep layout,
        looked up on first use (a program that never reads it builds
        none)."""
        if self._edges is None and self._graph is not None:
            self._edges = self.keep(self._graph.superstep_edges(self.bcast))
        return self._edges

    def run(
        self,
        init: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        *,
        result: tuple,
        halt: tuple | None = None,
        local: Callable[..., LocalProgram] | None = None,
        **kw,
    ) -> tuple[DataFrame, SuperstepStats]:
        """``run_supersteps`` from ``init``, a projection of the persisted
        vertex set (so no initial truncation job).  ``halt = (agg, pred)``
        observes ``agg`` on every step's output during its materialization
        job and stops once ``pred(observed_row)`` holds; ``halt=None`` runs
        ``max_iter`` supersteps.  Returns the final state's ``result``
        columns, carrying its release handles, and the stats; ``kw`` goes
        to ``run_supersteps``.

        ``local(ids, s, d)`` builds the program's :class:`LocalProgram`.
        When it is given and the graph is inside the driver-local regime
        (``plans.partitioning.local_regime``: within its caps, no
        checkpoint or resume), that runs instead and the result is a
        local relation."""
        from tcr_kcore_spark.plans.partitioning import local_regime

        if local is not None and local_regime(
            self._graph,
            checkpoint_dir=kw.get("checkpoint_dir"),
            resume=kw.get("resume", False),
            n_vertices=self.n,
        ):
            return self._run_local(local, kw.get("max_iter", 100), kw.get("truncate_every", 1))
        converged = None
        if halt is not None:
            agg, pred = halt
            oc = ObservedConvergence()
            body = step

            def step(state: DataFrame, i: int) -> DataFrame:
                return oc.attach(body(state, i), agg)

            def converged(prev: DataFrame, new: DataFrame, i: int) -> bool:
                return pred(oc.take())

        state, stats = run_supersteps(init, step, converged, truncate_init=False, **kw)
        stats.regime = "broadcast" if self.bcast else "shuffle"
        return propagate_release(state.select(*result), state), stats

    def _run_local(
        self, local: Callable[..., LocalProgram], max_iter: int, truncate_every: int
    ) -> tuple[DataFrame, SuperstepStats]:
        """``local`` on the driver (``plans.partitioning.solve_local``) in
        ``run_supersteps``' round structure: the halt test after every
        ``truncate_every`` supersteps, at most ``max_iter`` in all."""
        from tcr_kcore_spark.plans.partitioning import dense_rows, solve_local

        st = SuperstepStats(regime="local", actions=1)
        t0 = time.time()

        def kernel(src, dst):
            ids, s, d = dense_rows(src, dst)
            prog = local(ids, s, d)
            state, i = prog.state, 0
            while i < max_iter:
                t_step = time.time()
                k = min(truncate_every, max_iter - i)
                for j in range(i, i + k):
                    state = prog.step(state, j)
                i += k
                st.supersteps = i
                st.history.append(round(time.time() - t_step, 3))
                if prog.halt is not None and prog.halt(state):
                    st.converged = True
                    break
            return {"id": ids, **prog.result(state)}

        out = solve_local(self._graph.edges, kernel)
        st.wall_secs = time.time() - t0
        return out, st


@contextmanager
def vertex_program(
    graph: LinkGraph | None = None,
    verts: DataFrame | None = None,
    edges: DataFrame | None = None,
    n: int | None = None,
) -> Iterator[VertexProgram]:
    """Superstep set-up shared by every vertex-program operator.

    ``verts`` (one row per vertex) defaults to ``graph``'s vertex set and
    ``n`` to its row count; otherwise ``verts`` is persisted and counted
    unless the caller knows ``n``.  The regime is ``bcast`` when the V-row
    state fits a broadcast (the message join is map-side), else the state
    shuffle-joins src-partitioned edges; a program with a driver-local
    form may skip both (``VertexProgram.run``).  ``edges``, when given, is
    partitioned for that regime ONCE and cached (``plan_superstep_edges``:
    no per-superstep exchange is ever proportional to E); without it
    ``vp.edges`` is the graph's own layout.  No eager count: superstep 1
    materializes the edge cache en route.

    A materialized ``graph`` owns its vertex set, count and layouts
    (``LinkGraph`` docstring): they are shared with every other call and
    the program neither persists nor frees them.  Every frame the program
    persists itself is unpersisted on exit, whether or not the body
    raised."""
    from tcr_kcore_spark.plans.partitioning import (
        broadcast_max_rows,
        plan_superstep_edges,
    )

    vp = VertexProgram(graph)
    try:
        if verts is None:
            verts, n_graph = graph.vertex_set()
            n = n_graph if n is None else n
        vp.verts = vp.keep(verts)
        vp.n = vp.verts.count() if n is None else n
        # a cap of 0 forces the shuffle regime, on an empty graph too
        max_rows = broadcast_max_rows()
        vp.bcast = 0 < max_rows and vp.n <= max_rows
        if edges is not None:
            vp._edges = vp.keep(plan_superstep_edges(edges, vp.bcast))
        yield vp
    finally:
        for df in vp._held:
            df.unpersist()


def clear_checkpoints(ckpt_dir: str) -> None:
    if os.path.isdir(ckpt_dir):
        shutil.rmtree(ckpt_dir)
