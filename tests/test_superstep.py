"""Superstep helpers: bounded waits."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from tcr_kcore_spark.superstep import ObservedConvergence


def test_observed_convergence_take_reads_a_run_frame(spark):
    oc = ObservedConvergence()
    df = oc.attach(spark.range(10), F.sum("id").alias("n"))
    assert df.count() == 10
    assert oc.take() == {"n": 45}
    assert oc.take() is None  # nothing attached since


def test_observed_convergence_take_raises_on_unrun_frame(spark):
    oc = ObservedConvergence()
    oc.attach(spark.range(10), F.sum("id").alias("n"))  # never materialized
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="step 1 never ran"):
        oc.take()
    assert time.monotonic() - t0 < 30
