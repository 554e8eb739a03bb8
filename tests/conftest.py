from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Isolate this pytest run's staged oracle artifacts (simhash signatures, IVF
# index, staged edge lists, corpus fixture) from any concurrently running
# driver/parity sweep: both would otherwise share fixed paths under the
# system temp dir, and a different-SF run can overwrite a staged file
# between an entry's write and its oracle's read (__spark_entry__._stage_root).
os.environ.setdefault(
    "TCR_KCORE_STAGE_DIR", tempfile.mkdtemp(prefix="tcr_kcore_pytest_stage_")
)

from tcr_kcore_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tcr_kcore_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


def edges_df(spark, edges, weights=None):
    """Helper: build an edge DataFrame from a python list."""
    if weights is not None:
        rows = [(int(s), int(d), float(w)) for (s, d), w in zip(edges, weights)]
        return spark.createDataFrame(rows, "src long, dst long, weight double")
    rows = [(int(s), int(d)) for s, d in edges]
    return spark.createDataFrame(rows, "src long, dst long")


@pytest.fixture
def broadcast(monkeypatch):
    """Close the driver-local gate (``LOCAL_MAX_ENTRIES = 0``), so the
    vertex programs run their broadcast supersteps on a small test graph;
    the value is the regime their stats then report."""
    monkeypatch.setattr("tcr_kcore_spark.plans.partitioning.LOCAL_MAX_ENTRIES", 0)
    return "broadcast"
