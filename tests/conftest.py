import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geminigraph_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("geminigraph-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


_job_groups = itertools.count()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` runs ``fn()`` in a job group of its own and
    returns (its result, the number of Spark jobs it submitted)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"counted-{next(_job_groups)}"
        sc.setJobGroup(group, "job count")
        try:
            out = fn()
        finally:
            sc.setJobGroup(None, None)
        # the status tracker learns of jobs through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="module")
def dataframe_route():
    """Keep pagerank / connected_components / label_propagation and
    triangle_count on their DataFrame kernels (for triangle_count, the
    three-way self-join): the in-driver routes need at most
    ``engine.DRIVER_MAX_WORK`` engine-graph edges or input rows, and no
    graph has fewer than 0."""
    from geminigraph_spark.operators import engine

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "DRIVER_MAX_WORK", -1)
        yield
