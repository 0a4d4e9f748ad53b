"""Invariant tests mirroring the reference's printed global checks
(SURVEY §5.3): these are the quantities the reference prints as its only
correctness signal — pr_sum + argmax (pagerank.cpp:107-123), component
count (cc.cpp:90-104), reachable count (bfs.cpp:94-103), farthest vertex
(sssp.cpp:91-100) — plus property checks (label ≤ id, monotone frontier
shrinkage, PageRank mass accounting with dropped dangling mass)."""

import numpy as np
import pytest

from geminigraph_spark.functions import oracle_numpy as O
from geminigraph_spark.functions.edges import symmetrize_df
from geminigraph_spark.operators.algorithms import (
    bfs_engine,
    cc_engine,
    pagerank_engine,
    sssp_engine,
)
from geminigraph_spark.operators.chunked_graph import ChunkedGraph


def _graph(n=200, m=1400, seed=11):
    rng = np.random.default_rng(seed)
    return (
        rng.integers(0, n, m).astype(np.int64),
        ((rng.integers(0, n, m) * 3) % n).astype(np.int64),
        n,
    )


@pytest.fixture(scope="module")
def built(spark):
    src, dst, n = _graph()
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    g = ChunkedGraph.build(spark, df, n_chunks=4, n_vertices=n)
    sym = ChunkedGraph.build(spark, symmetrize_df(df), n_chunks=4, n_vertices=n)
    yield src, dst, n, g, sym
    g.unpersist()
    sym.unpersist()


def test_pagerank_sum_and_argmax(built):
    """pr_sum ≈ |V| scale minus dropped dangling mass; argmax matches the
    oracle (reference prints both, pagerank.cpp:107-123)."""
    src, dst, n, g, sym = built
    got, _ = pagerank_engine(g, iters=15)
    want = O.pagerank_ref(src, dst, n, iters=15)
    assert abs(got.sum() - want.sum()) < 1e-9
    assert int(np.argmax(got)) == int(np.argmax(want))
    # mass accounting: with no dangling drop the sum would be exactly n;
    # dangling mass is dropped each iteration so sum < n strictly when
    # dangling vertices exist (out_degree == 0 somewhere)
    if (g.out_degree == 0).any():
        assert got.sum() < n


def test_cc_component_count_and_label_leq_id(built):
    src, dst, n, g, sym = built
    labels, eng = cc_engine(sym)
    want = O.cc_ref(src, dst, n)
    assert len(np.unique(labels)) == len(np.unique(want))
    assert (labels <= np.arange(n)).all()  # HashMin invariant
    # monotone frontier shrinkage after the first superstep
    av = [m.active_vertices for m in eng.metrics]
    assert all(av[i + 1] <= av[i] for i in range(1, len(av) - 1))


def test_bfs_reachable_count(built):
    src, dst, n, g, sym = built
    root = int(src[0])
    depth, _ = bfs_engine(g, root=root)
    want = O.bfs_depth_ref(src, dst, n, root=root)
    assert (depth >= 0).sum() == (want >= 0).sum()  # found_vertices


def test_sssp_farthest_vertex(built):
    src, dst, n, g, sym = built
    w = (((src * 7 + dst * 13) % 100) / 10.0 + 0.1).astype(np.float64)
    wdf = g.spark.createDataFrame(
        [(int(s), int(d), float(x)) for s, d, x in zip(src, dst, w)],
        "src long, dst long, w double",
    )
    wg = ChunkedGraph.build(g.spark, wdf, n_chunks=4, weighted=True, n_vertices=n)
    root = int(src[0])
    dist, _ = sssp_engine(wg, root=root)
    wg.unpersist()
    want = O.sssp_ref(src, dst, w, n, root=root)
    reach = want < 1e9
    far_w = np.argmax(np.where(reach, want, -1))
    far_g = np.argmax(np.where(dist < 1e9, dist, -1))
    assert abs(want[far_w] - dist[far_g]) < 1e-9  # farthest distance


def test_pagerank_delta_series(built):
    """Per-iteration delta Σ|next−curr|·out_degree / |V| (the reference's
    printed convergence signal, pagerank.cpp:45-49, 86-98) decreases."""
    src, dst, n, g, sym = built
    states = []
    pagerank_engine(g, iters=10, on_state=lambda i, arr: states.append(arr.copy()))
    outd = g.out_degree.astype(np.float64)
    deltas = [
        float(np.abs(states[i + 1] - states[i]).dot(outd)) / n
        for i in range(len(states) - 2)  # final iter is undivided — skip
    ]
    assert deltas[-1] < deltas[0]
