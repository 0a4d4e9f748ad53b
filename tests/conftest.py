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


@pytest.fixture(scope="module")
def dataframe_route():
    """Keep pagerank / connected_components / label_propagation on their
    DataFrame kernels: the in-driver route needs an engine graph of at
    most ``engine.DRIVER_MAX_WORK`` edges, and no graph has fewer than 0."""
    from geminigraph_spark.operators import engine

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(engine, "DRIVER_MAX_WORK", -1)
        yield
