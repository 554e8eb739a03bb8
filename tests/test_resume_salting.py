from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tcr_kcore_spark.graph import LinkGraph
from tcr_kcore_spark.operators import connected_components, kcore, pagerank
from tcr_kcore_spark.plans import (
    degree_range_bounds,
    repartition_by_degree_mass,
    salted_count,
    salted_sum,
)
from tcr_kcore_spark.superstep import latest_checkpoint
from tests import oracles
from tests.conftest import edges_df


def test_pagerank_checkpoint_resume_identical(spark, tmp_path):
    """FIXTURES F6: interrupt after a few supersteps, resume from manifest,
    final output identical to the uninterrupted run."""
    edges = oracles.er_graph(n=200, avg_deg=6)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=True)
    full, _ = pagerank(g, tol=1e-6, max_iter=100)
    full_vals = {r["id"]: r["rank"] for r in full.collect()}

    ck = str(tmp_path / "pr_ck")
    # interrupted run: cap at 7 supersteps, checkpoint every 5
    g2 = LinkGraph.from_edges(edges_df(spark, edges), directed=True)
    partial, st1 = pagerank(g2, tol=1e-6, max_iter=7, checkpoint_dir=ck, checkpoint_every=5)
    found = latest_checkpoint(ck)
    assert found is not None and found[0] >= 5

    # resume to convergence
    g3 = LinkGraph.from_edges(edges_df(spark, edges), directed=True)
    resumed, st2 = pagerank(
        g3, tol=1e-6, max_iter=100, checkpoint_dir=ck, checkpoint_every=5, resume=True
    )
    assert st2.resumed_from == found[0]
    got = {r["id"]: r["rank"] for r in resumed.collect()}
    for v, want in full_vals.items():
        assert got[v] == pytest.approx(want, abs=1e-9), v


def test_resume_rejects_checkpoint_of_another_schema(spark, tmp_path):
    """A checkpoint whose state schema differs from the operator's init
    state (pagerank's state before it carried ``w``) fails on resume with
    an error naming both schemas, not deep inside a join."""
    from tcr_kcore_spark.superstep import run_supersteps

    ck = str(tmp_path / "old_pr_ck")
    old = spark.range(5).select("id", F.lit(1.0).alias("rank"), F.lit(0.0).alias("delta"))
    run_supersteps(old, lambda s, i: s, max_iter=2, checkpoint_dir=ck, checkpoint_every=1)
    g = LinkGraph.from_edges(edges_df(spark, [(0, 1), (1, 2), (2, 0)]), directed=True)
    with pytest.raises(ValueError) as err:
        pagerank(g, checkpoint_dir=ck, resume=True)
    msg = str(err.value)
    assert "struct<id:bigint,rank:double,delta:double>" in msg
    assert "struct<id:bigint,w:double,rank:double,delta:double>" in msg


def test_checkpoint_manifest_contents(spark, tmp_path):
    edges = oracles.er_graph(n=100, avg_deg=4)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    ck = str(tmp_path / "cc_ck")
    connected_components(g, checkpoint_dir=ck, checkpoint_every=1)
    step, path = latest_checkpoint(ck)
    with open(os.path.join(ck, f"manifest_{step:06d}.json")) as f:
        manifest = json.load(f)
    assert manifest["rows"] > 0
    assert manifest["schema"].startswith("struct<")
    assert isinstance(manifest["partitions"], list) and manifest["partitions"]
    assert sum(p["rows"] for p in manifest["partitions"]) == manifest["rows"]


def test_kcore_resume(spark, tmp_path):
    edges = oracles.zipf_hub_graph(n=300, m=1500, seed=5)
    want = oracles.coreness(edges)
    ck = str(tmp_path / "kc_ck")
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    kcore(g, mode="hindex", max_iter=3, checkpoint_dir=ck, checkpoint_every=2)
    g2 = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    result, st = kcore(
        g2, mode="hindex", checkpoint_dir=ck, checkpoint_every=2, resume=True
    )
    assert st.resumed_from is not None
    got = {r["id"]: r["coreness"] for r in result.collect()}
    assert got == want


def test_salted_aggregation_identical(spark):
    """Salting must not change results (reference C2 skew control)."""
    edges = oracles.zipf_hub_graph(n=400, m=4000, seed=9)
    df = edges_df(spark, edges).withColumn("v", (F.col("src") % 7).cast("double"))
    plain_sum = {
        r["dst"]: r["s"]
        for r in df.groupBy("dst").agg(F.sum("v").alias("s")).collect()
    }
    salted = {r["dst"]: r["s"] for r in salted_sum(df, ["dst"], "v", "s").collect()}
    assert salted == plain_sum
    plain_cnt = {r["dst"]: r["c"] for r in df.groupBy("dst").agg(F.count(F.lit(1)).alias("c")).collect()}
    salted_c = {r["dst"]: r["c"] for r in salted_count(df, ["dst"], "c").collect()}
    assert salted_c == plain_cnt


def test_degree_mass_partitioning_balances_edges(spark):
    edges = oracles.zipf_hub_graph(n=500, m=8000, seed=3)
    g = LinkGraph.from_edges(edges_df(spark, edges), directed=False)
    degrees = g.degrees()
    bounds = degree_range_bounds(degrees, 4)
    assert len(bounds) == 3 and bounds == sorted(bounds)
    parts = repartition_by_degree_mass(g.edges, degrees, 4, key="src")
    sizes = [
        r["c"]
        for r in parts.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    total = sum(sizes)
    # each partition holds a reasonable share of edge mass (not pathological)
    assert max(sizes) < 0.6 * total, sizes
