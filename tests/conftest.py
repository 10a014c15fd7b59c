from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from muller_spark.session import get_spark  # noqa: E402

def prop_examples(default: int) -> int:
    """Example count for property tests; raise via PROP_EXAMPLES for
    soak runs (e.g. PROP_EXAMPLES=60 pytest tests/test_merge_property.py)."""
    return int(os.environ.get("PROP_EXAMPLES", default))


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    session = get_spark("muller_spark_tests")
    yield session


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns how many jobs it started (the status tracker's job ids for
    the group, read once the listener bus has drained)."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-of-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "jobs_of")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
