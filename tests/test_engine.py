"""Chunked engine vs numpy oracle — including forced push vs pull parity
(the reference's signature adaptive mode must not change results,
core/graph.hpp:1502-1508)."""

import numpy as np
import pytest

from geminigraph_spark.functions import oracle_numpy as O
from geminigraph_spark.functions.edges import symmetrize_df
from geminigraph_spark.operators.algorithms import (
    bfs_engine,
    cc_engine,
    k_core_engine,
    lp_engine,
    pagerank_engine,
    sssp_engine,
)
from geminigraph_spark.operators.chunked_graph import ChunkedGraph
from geminigraph_spark.operators.engine import VertexEngine


def _graph(n=150, m=900, seed=5):
    rng = np.random.default_rng(seed)
    src = rng.integers(0, n, m).astype(np.int64)
    dst = ((rng.integers(0, n, m) * rng.integers(0, n, m)) % n).astype(np.int64)
    return src, dst, n


@pytest.fixture(scope="module")
def built(spark):
    src, dst, n = _graph()
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    g = ChunkedGraph.build(spark, df, n_chunks=5, n_vertices=n)
    sym = ChunkedGraph.build(spark, symmetrize_df(df), n_chunks=5, n_vertices=n)
    w = (((src * 7 + dst * 13) % 100) / 10.0 + 0.1).astype(np.float64)
    wdf = spark.createDataFrame(
        [(int(s), int(d), float(x)) for s, d, x in zip(src, dst, w)],
        "src long, dst long, w double",
    )
    wg = ChunkedGraph.build(spark, wdf, n_chunks=5, weighted=True, n_vertices=n)
    yield src, dst, w, n, g, sym, wg
    for graph in (g, sym, wg):
        graph.unpersist()


def test_build_invariants(built):
    src, dst, w, n, g, sym, wg = built
    assert g.n_vertices == n
    assert g.n_edges == len(src)
    assert sym.n_edges == 2 * len(src)
    assert g.boundaries[0] == 0 and g.boundaries[-1] == n
    assert (np.diff(g.boundaries) >= 0).all()
    want_out = np.bincount(src, minlength=n)
    assert np.array_equal(g.out_degree, want_out)
    assert np.array_equal(g.in_degree, np.bincount(dst, minlength=n))


def test_pagerank_engine_matches_oracle(built):
    src, dst, w, n, g, sym, wg = built
    want = O.pagerank_ref(src, dst, n, iters=10)
    got, eng = pagerank_engine(g, iters=10)
    assert np.allclose(got, want, atol=1e-12)
    assert all(m.mode == "dense" for m in eng.metrics)  # full frontier
    assert all(m.active_edges == g.n_edges for m in eng.metrics)


def test_cc_engine_exact_and_uses_sparse_tail(built):
    src, dst, w, n, g, sym, wg = built
    want = O.cc_ref(src, dst, n)
    got, eng = cc_engine(sym)
    assert np.array_equal(got, want)
    assert eng.metrics[0].mode == "dense"


def test_lp_engine_exact(built):
    src, dst, w, n, g, sym, wg = built
    want = O.lp_ref(src, dst, n, iters=6)
    got, _ = lp_engine(sym, iters=6)
    assert np.array_equal(got, want)


def test_lp_engine_frontier_restriction_shrinks(built):
    """VERDICT r3 #2 (engine path): once the changed-label frontier goes
    sparse, only dsts touched by it are recomputed (over ALL their
    in-edges — affected_only mode): identical labels to the full 10-sweep
    reference, shrinking active counts, a sparse tail superstep whose
    measured processed_edges is a fraction of |E|, and early exit at the
    fixpoint."""
    src, dst, w, n, g, sym, wg = built
    want = O.lp_ref(src, dst, n, iters=10)
    got, eng = lp_engine(sym, iters=10)
    assert np.array_equal(got, want)
    av = [m.active_vertices for m in eng.metrics]
    assert av[0] == n and av[-1] < n // 10
    assert len(eng.metrics) < 10  # converged -> early exit
    tail = eng.metrics[-1]
    assert tail.mode == "sparse"
    # restricted sweep touches only the in-edges of affected dsts
    assert 0 < tail.processed_edges < sym.n_edges // 2
    assert eng.metrics[0].processed_edges == sym.n_edges


def test_sssp_engine_matches(built):
    src, dst, w, n, g, sym, wg = built
    root = int(src[0])
    want = O.sssp_ref(src, dst, w, n, root=root)
    got, eng = sssp_engine(wg, root=root)
    assert np.allclose(got, want, atol=1e-12)
    # Bellman-Ford from a single root starts sparse (1/20 rule)
    assert eng.metrics[0].mode == "sparse"


def test_bfs_engine_matches(built):
    src, dst, w, n, g, sym, wg = built
    root = int(src[0])
    want = O.bfs_depth_ref(src, dst, n, root=root)
    got, _ = bfs_engine(g, root=root)
    assert np.array_equal(got, want)


def test_bfs_dense_selective_prunes_processed_edges(built):
    """dense_selective (graph.hpp:1665-1689, bfs.cpp:77): dense/pull BFS
    iterations skip already-visited dsts, so the measured processed-edge
    count is strictly below the frontier's active-edge upper bound once
    some vertices are settled — and results are unchanged (asserted by
    test_bfs_engine_matches which runs the same code path)."""
    src, dst, w, n, g, sym, wg = built
    root = int(src[0])
    _, eng = bfs_engine(g, root=root)
    dense = [m for m in eng.metrics if m.mode == "dense" and m.iteration > 0]
    assert dense, "expected at least one dense iteration past the root"
    assert all(m.processed_edges <= m.active_edges for m in eng.metrics)
    assert any(m.processed_edges < m.active_edges for m in dense)


def test_engine_resume_mid_run_identical(built):
    """ADVICE r1: cc/sssp/bfs engines accept start/start_iter — a snapshot
    taken mid-run resumes to the exact same fixpoint."""
    src, dst, w, n, g, sym, wg = built
    root = int(src[0])

    snaps = {}
    want_cc, _ = cc_engine(sym, on_state=lambda i, a: snaps.__setitem__(i, a.copy()))
    mid = sorted(snaps)[len(snaps) // 2]
    got_cc, _ = cc_engine(sym, start=snaps[mid], start_iter=mid + 1)
    assert np.array_equal(got_cc, want_cc)

    snaps = {}
    want_d, _ = sssp_engine(
        wg, root=root, on_state=lambda i, a: snaps.__setitem__(i, a.copy())
    )
    mid = sorted(snaps)[len(snaps) // 2]
    got_d, _ = sssp_engine(wg, root=root, start=snaps[mid], start_iter=mid + 1)
    assert np.allclose(got_d, want_d, atol=0)

    snaps = {}
    want_b, _ = bfs_engine(
        g, root=root, on_state=lambda i, a: snaps.__setitem__(i, a.copy())
    )
    mid = sorted(snaps)[len(snaps) // 2]
    got_b, _ = bfs_engine(g, root=root, start=snaps[mid], start_iter=mid + 1)
    assert np.array_equal(got_b, want_b)

    snaps = {}
    want_l, _ = lp_engine(
        sym, iters=6, on_state=lambda i, a: snaps.__setitem__(i, a.copy())
    )
    got_l, _ = lp_engine(sym, iters=6, start=snaps[2], start_iter=3)
    assert np.array_equal(got_l, want_l)


def test_push_pull_parity(built):
    """Forced sparse vs forced dense give identical aggregates —
    the mode switch is a physical-plan choice only."""
    src, dst, w, n, g, sym, wg = built
    eng = VertexEngine(g)
    rng = np.random.default_rng(0)
    msg = rng.random(n)
    frontier = np.zeros(n, dtype=bool)
    frontier[rng.integers(0, n, 12)] = True
    ids_s, vals_s = eng.edge_aggregate(msg, "sum", frontier=frontier, force_mode="sparse")
    ids_d, vals_d = eng.edge_aggregate(msg, "sum", frontier=frontier, force_mode="dense")
    os_, od_ = np.argsort(ids_s), np.argsort(ids_d)
    assert np.array_equal(ids_s[os_], ids_d[od_])
    assert np.allclose(vals_s[os_], vals_d[od_], atol=1e-12)


def test_dense_superstep_ships_chunk_slices_on_cluster_transport(spark):
    """VERDICT r3 missing #1: on the cluster transport, a dense superstep
    ships each chunk only msg_vec[chunk_srcs] (plus sliced frontier /
    dense_selective masks) — bytes_shipped < |V|·8 on a multi-chunk graph
    whose chunks see few distinct srcs — with results identical to the
    file transport across full-frontier, partial-frontier+dense_selective,
    and affected-mode supersteps."""
    n, m = 4000, 800  # Σ|usrcs| ≤ |E| = 800 ≪ |V|
    rng = np.random.default_rng(11)
    src = rng.integers(0, n, m).astype(np.int64)
    dst = rng.integers(0, n, m).astype(np.int64)
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    g = ChunkedGraph.build(spark, df, n_chunks=6, n_vertices=n)
    state = rng.random(n)
    frontier = np.zeros(n, dtype=bool)
    frontier[rng.integers(0, n, 300)] = True  # partial but NOT /20-sparse
    dsel = np.ones(n, dtype=bool)
    dsel[rng.integers(0, n, 500)] = False
    label = rng.integers(0, 50, n).astype(np.int64)
    lfro = np.zeros(n, dtype=bool)
    lfro[np.unique(src[:5])] = True  # tiny changed set -> affected mode

    res: dict = {}
    for transport in ("file", "bc"):
        eng = VertexEngine(g, transport=transport)
        out = []
        out.append(eng.edge_aggregate(state, "sum", iteration=0))  # full dense
        if transport == "bc":
            dense_bytes = eng.metrics[-1].bytes_shipped
            assert eng.metrics[-1].mode == "dense"
            assert dense_bytes < n * 8  # slice sum, not the |V| vector
        out.append(
            eng.edge_aggregate(
                state, "sum", frontier=frontier, iteration=1,
                force_mode="dense", dense_selective=dsel,
            )
        )
        out.append(
            eng.edge_aggregate(
                label, "mode", frontier=lfro, iteration=2, affected_only=True
            )
        )
        assert eng.metrics[-1].mode == "sparse"  # affected restriction on
        res[transport] = out
        eng.close()
    for (ids_f, vals_f), (ids_b, vals_b) in zip(res["file"], res["bc"]):
        of, ob = np.argsort(ids_f), np.argsort(ids_b)
        assert np.array_equal(np.asarray(ids_f)[of], np.asarray(ids_b)[ob])
        assert np.allclose(np.asarray(vals_f)[of], np.asarray(vals_b)[ob], atol=0)
    g.unpersist()


def test_sliced_transport_byte_inequality_and_fallback(spark):
    """VERDICT r4 #9 + ADVICE r4 medium: on a multi-chunk graph with a
    SKEWED src distribution, the sliced dense transport ships
    Σ|usrcs|·itemsize bytes — pinned as inequalities: ≤ |E|·itemsize and
    < |V|·n_chunks·itemsize (what full-vector replication would cost).
    Past SLICED_SHIP_MAX_BYTES the engine must fall back to ONE broadcast
    of the |V| vector (bounded driver residency), with identical results
    and an empty _usrcs_cache."""
    from geminigraph_spark.operators import engine as E

    n, m, n_chunks = 3000, 2000, 6
    rng = np.random.default_rng(7)
    # skew: 80% of edges leave a 20-vertex hub set, so chunks share srcs
    hub = rng.integers(0, 20, int(m * 0.8))
    tail = rng.integers(0, n, m - len(hub))
    src = np.sort(np.concatenate([hub, tail]).astype(np.int64))
    dst = rng.integers(0, n, m).astype(np.int64)
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    g = ChunkedGraph.build(spark, df, n_chunks=n_chunks, n_vertices=n)
    state = rng.random(n)

    eng = VertexEngine(g, transport="bc")
    ids_s, vals_s = eng.edge_aggregate(state, "sum", iteration=0)
    assert eng.metrics[-1].mode == "dense"
    shipped = eng.metrics[-1].bytes_shipped
    tot_usrcs = eng._usrcs_total()
    assert shipped == tot_usrcs * 8  # float64 slices, nothing else
    assert shipped <= m * 8, "sliced shipment exceeded the |E| bound"
    assert shipped < n * n_chunks * 8, "no cheaper than full replication"
    assert eng._usrcs_cache  # sliced path populated the cache
    eng.close()
    assert not eng._usrcs_cache and eng._usrcs_total_cache is None

    # force the fallback: cap of 0 bytes → broadcast path, same answer
    old = E.SLICED_SHIP_MAX_BYTES
    E.SLICED_SHIP_MAX_BYTES = 0
    try:
        eng2 = VertexEngine(g, transport="bc")
        ids_b, vals_b = eng2.edge_aggregate(state, "sum", iteration=0)
        assert not eng2._usrcs_cache  # fallback never materializes slices
        eng2.close()
    finally:
        E.SLICED_SHIP_MAX_BYTES = old
    os_, ob_ = np.argsort(ids_s), np.argsort(ids_b)
    assert np.array_equal(np.asarray(ids_s)[os_], np.asarray(ids_b)[ob_])
    assert np.allclose(
        np.asarray(vals_s)[os_], np.asarray(vals_b)[ob_], atol=0
    )
    g.unpersist()


def test_bfs_resume_from_wider_dtype_snapshot(built):
    """ADVICE r4 medium: a depth snapshot written by an int64-state build
    stores unreached as iinfo(int64).max//4; resuming it through the
    int32 build must remap the sentinel, not wrap it into garbage."""
    src, dst, w, n, g, sym, wg = built
    root = int(src[0])
    snaps = {}
    want, _ = bfs_engine(
        g, root=root, on_state=lambda i, a: snaps.__setitem__(i, a.copy())
    )
    mid = sorted(snaps)[len(snaps) // 2]
    big32 = np.iinfo(np.int32).max // 4
    big64 = np.iinfo(np.int64).max // 4
    old_style = snaps[mid].astype(np.int64)
    old_style[old_style >= big32] = big64  # what an int64 build wrote
    got, _ = bfs_engine(g, root=root, start=old_style, start_iter=mid + 1)
    assert np.array_equal(got, want)


def test_cc_warm_start_on_appended_edges(spark, built):
    """VERDICT r4 #8: a crawl grows — CC warm-started from the prior
    run's converged labels over the appended graph must reach the cold
    run's labels EXACTLY (HashMin min-id argument) in measurably fewer
    supersteps, seeding only the append sites."""
    from geminigraph_spark.operators.algorithms import cc_engine_warm

    src, dst, w, n, g, sym, wg = built
    prior, _eng0 = cc_engine(sym)

    # append ~1% new edges, including 3 that touch NEW vertices
    rng = np.random.default_rng(99)
    n_new = n + 3
    a_src = np.concatenate([rng.integers(0, n, 9), [n, n + 1, 17]])
    a_dst = np.concatenate([rng.integers(0, n, 9), [3, n + 2, n]])
    all_src = np.concatenate([src, a_src])
    all_dst = np.concatenate([dst, a_dst])
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(all_src, all_dst)],
        "src long, dst long",
    )
    from geminigraph_spark.functions.edges import symmetrize_df

    sym2 = ChunkedGraph.build(
        spark, symmetrize_df(df), n_chunks=5, n_vertices=n_new
    )
    cold, eng_cold = cc_engine(sym2)
    warm, eng_warm = cc_engine_warm(sym2, prior, a_src, a_dst)
    assert np.array_equal(warm, cold)
    assert len(eng_warm.metrics) < len(eng_cold.metrics), (
        f"warm {len(eng_warm.metrics)} vs cold {len(eng_cold.metrics)}"
    )
    # the first warm superstep is frontier-restricted, not a full sweep
    assert eng_warm.metrics[0].active_edges < eng_cold.metrics[0].active_edges
    sym2.unpersist()


def test_lp_warm_start_restricted_equals_full(spark, built):
    """LP warm start: when the prior labels are a FIXPOINT of the old
    graph, seeding only the appended-edge endpoints + new vertices is
    equivalent to the full "everyone" resume sweep (only vertices whose
    in-multiset changed can flip) — identical labels, less first-sweep
    work."""
    from geminigraph_spark.operators.algorithms import (
        append_frontier,
        extend_labels,
    )

    src, dst, w, n, g, sym, wg = built
    # run to fixpoint (early exit) so the prior state is converged
    prior, _ = lp_engine(sym, iters=100)

    rng = np.random.default_rng(31)
    n_new = n + 2
    a_src = np.concatenate([rng.integers(0, n, 8), [n]])
    a_dst = np.concatenate([rng.integers(0, n, 8), [n + 1]])
    all_src = np.concatenate([src, a_src])
    all_dst = np.concatenate([dst, a_dst])
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(all_src, all_dst)],
        "src long, dst long",
    )
    from geminigraph_spark.functions.edges import symmetrize_df

    sym2 = ChunkedGraph.build(
        spark, symmetrize_df(df), n_chunks=5, n_vertices=n_new
    )
    start = extend_labels(prior, n_new)
    full, eng_full = lp_engine(sym2, iters=8, start=start)
    restr, eng_restr = lp_engine(
        sym2,
        iters=8,
        start=start,
        start_frontier=append_frontier(n_new, n, a_src, a_dst),
    )
    assert np.array_equal(restr, full)
    assert (
        eng_restr.metrics[0].active_edges < eng_full.metrics[0].active_edges
    )
    sym2.unpersist()


def test_from_arrays_packs_like_build(spark, built):
    """Driver-packed chunks ≡ the build's: same boundaries and degrees,
    the same edges per chunk, src-sorted, with the same src sets."""
    import os

    from geminigraph_spark.operators.chunked_graph import (
        load_chunk_arrays,
        load_chunk_usrcs,
    )

    src, dst, w, n, g, sym, wg = built
    fa = ChunkedGraph.from_arrays(spark, src, dst, n, n_chunks=5)
    try:
        assert fa.n_edges == g.n_edges and fa.n_chunks == g.n_chunks
        assert np.array_equal(fa.boundaries, g.boundaries)
        assert np.array_equal(fa.out_degree, g.out_degree)
        assert np.array_equal(fa.in_degree, g.in_degree)
        for cid in range(fa.n_chunks):
            name = f"chunk_{cid:05d}"
            a = load_chunk_arrays(os.path.join(fa.spill_dir, name), False)
            b = load_chunk_arrays(os.path.join(g.spill_dir, name), False)
            assert (np.diff(a["srcs"]) >= 0).all()
            ka = np.lexsort((a["dsts"], a["srcs"]))
            kb = np.lexsort((b["dsts"], b["srcs"]))
            for col in ("srcs", "dsts"):
                assert np.array_equal(a[col][ka], b[col][kb])
            assert np.array_equal(
                load_chunk_usrcs(os.path.join(fa.spill_dir, name)),
                load_chunk_usrcs(os.path.join(g.spill_dir, name)),
            )
        got, _ = pagerank_engine(fa, iters=6)
        want, _ = pagerank_engine(g, iters=6)
        assert np.allclose(got, want, rtol=0, atol=1e-12)
    finally:
        fa.unpersist()
    assert not os.path.exists(fa.spill_dir)


def test_pagerank_engine_matches_dataframe_path(spark, built, monkeypatch):
    src, dst, w, n, g, sym, wg = built
    from geminigraph_spark.functions.graph_algos import pagerank
    from geminigraph_spark.operators import engine

    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    # the DataFrame kernel, not its in-driver route onto pagerank_engine
    mets = []
    with monkeypatch.context() as mp:
        mp.setattr(engine, "DRIVER_MAX_WORK", -1)
        df_res = pagerank(df, iters=6, metrics=mets).toPandas()
    assert {m.route for m in mets} == {"dataframe"}
    got, _ = pagerank_engine(g, iters=6)
    for _, row in df_res.iterrows():
        assert abs(got[int(row["id"])] - row["rank"]) < 1e-9


def test_synth_graph_matches_direct(spark, tmp_path):
    """Pre-bucketed synthetic graph ≡ the same edges built via shuffle."""
    import numpy as np

    from geminigraph_spark.functions import oracle_numpy as O
    from geminigraph_spark.operators.synth import edge_of, pair_of, synth_graph

    V, E = 500, 3000
    g = synth_graph(spark, V, E, n_chunks=4, spill_dir=str(tmp_path / "d"), seed=7)
    src, dst = edge_of(np.arange(E), V, 7)
    assert g.n_edges == E
    assert np.array_equal(g.out_degree, np.bincount(src, minlength=V))
    assert np.array_equal(g.in_degree, np.bincount(dst, minlength=V))
    want = O.pagerank_ref(src, dst, V, iters=5)
    got, _ = pagerank_engine(g, iters=5)
    assert np.allclose(got, want, atol=1e-12)

    sym = synth_graph(
        spark, V, E, n_chunks=4, spill_dir=str(tmp_path / "s"), seed=7, symmetric=True
    )
    a, b = pair_of(np.arange(E), V, 7)
    assert sym.n_edges == 2 * E
    ss = np.concatenate([a, b])
    assert np.array_equal(sym.out_degree, np.bincount(ss, minlength=V))
    want_cc = O.cc_ref(a, b, V)
    got_cc, _ = cc_engine(sym)
    assert np.array_equal(got_cc, want_cc)


def test_save_load_roundtrip_pagerank(spark, built, tmp_path):
    """VERDICT r1 #4: persist the chunked layout as a real table (parquet
    partitioned by dst_chunk, src-sorted) and rebuild WITHOUT recomputing
    degrees/boundaries; kernels on the reloaded graph match."""
    src, dst, w, n, g, sym, wg = built
    d = str(tmp_path / "graph_table")
    g.save(d)
    g2 = ChunkedGraph.load(spark, d, spill_dir=str(tmp_path / "spill2"))
    assert g2.n_vertices == g.n_vertices and g2.n_edges == g.n_edges
    assert np.array_equal(g2.boundaries, g.boundaries)
    assert np.array_equal(g2.out_degree, g.out_degree)
    assert "load_s" in g2.build_meta  # rebuilt via load, not a degree pass
    want, _ = pagerank_engine(g, iters=6)
    got, _ = pagerank_engine(g2, iters=6)
    assert np.allclose(got, want, atol=0)
    # weighted graph round-trips its w column too
    dw = str(tmp_path / "wgraph_table")
    wg.save(dw)
    wg2 = ChunkedGraph.load(spark, dw, spill_dir=str(tmp_path / "spill3"))
    root = int(src[0])
    want_d, _ = sssp_engine(wg, root=root)
    got_d, _ = sssp_engine(wg2, root=root)
    assert np.allclose(got_d, want_d, atol=0)
    g2.unpersist()
    wg2.unpersist()


def test_distributed_boundaries_build_matches(spark, built):
    """distributed_boundaries=True (plans/partition.assign_chunks two-pass
    cumsum) yields a valid contiguous layout with identical kernel output."""
    src, dst, w, n, g, sym, wg = built
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    g2 = ChunkedGraph.build(
        spark, df, n_chunks=5, n_vertices=n, distributed_boundaries=True
    )
    assert g2.boundaries[0] == 0 and g2.boundaries[-1] == n
    assert (np.diff(g2.boundaries) >= 0).all()
    assert np.array_equal(g2.out_degree, g.out_degree)
    want, _ = pagerank_engine(g, iters=5)
    got, _ = pagerank_engine(g2, iters=5)
    assert np.allclose(got, want, atol=1e-12)
    g2.unpersist()


def test_bc_engine_matches_oracle(spark, built, tmp_path):
    from pyspark.sql import functions as SF

    from geminigraph_spark.operators.algorithms import bc_engine

    src, dst, w, n, g, sym, wg = built
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    gt = ChunkedGraph.build(
        spark,
        df.select(SF.col("dst").alias("src"), SF.col("src").alias("dst")),
        n_chunks=5,
        n_vertices=n,
    )
    root = int(src[0])
    want = O.bc_ref(src, dst, n, root=root)
    got, _ = bc_engine(g, gt, root=root)
    gt.unpersist()
    assert np.allclose(got, want, atol=1e-9)


def test_load_validates_derivation_and_spill_ownership(spark, built, tmp_path):
    """ADVICE r2: a persisted graph table bakes in its edge derivation —
    loading it for a workload that needs a different derivation must error,
    and unpersist() must never rmtree a caller-provided spill dir."""
    import os

    src, dst, w, n, g, sym, wg = built
    d = str(tmp_path / "gt_deriv")
    g.save(d, derivation="directed")
    with pytest.raises(ValueError, match="derivation"):
        ChunkedGraph.load(spark, d, expect_derivation="symmetrized")

    sp = tmp_path / "spill_owned_by_caller"
    g2 = ChunkedGraph.load(spark, d, spill_dir=str(sp), expect_derivation="directed")
    assert g2.owns_spill is False
    g2.unpersist()
    assert sp.is_dir()  # caller-provided dir survives unpersist

    g3 = ChunkedGraph.load(spark, d)
    assert g3.owns_spill is True
    spill3 = g3.spill_dir
    g3.unpersist()
    assert not os.path.isdir(spill3)  # engine-created temp dir is cleaned


def test_engine_pagerank_redistributed(spark, built):
    """Engine twin of the redistribute_dangling flag — exact parity with
    the numpy reference over the full dense vertex range."""
    src, dst, w, n, g, sym, wg = built
    want = O.pagerank_redist_ref(src, dst, n, iters=6)
    got, _ = pagerank_engine(g, iters=6, redistribute_dangling=True)
    assert np.allclose(got, want, atol=1e-12)


def test_sparse_superstep_ships_frontier_bytes_only(spark, built):
    """VERDICT r2 #8: a sparse/push superstep transports O(|frontier|)
    state bytes — (frontier_ids, their values) — not the |V| vector, on
    BOTH transports; dense supersteps replicate full state (the
    reference's own dense-mode layout, graph.hpp:228-236). Results are
    identical across transports and shipment shapes."""
    src, dst, w, n, g, sym, wg = built
    label = np.arange(n, dtype=np.int64)
    frontier = np.zeros(n, dtype=bool)
    frontier[:3] = True  # 3 active vertices << n

    results = {}
    for transport in ("file", "bc"):
        eng = VertexEngine(g, transport=transport)
        ids, vals = eng.edge_aggregate(
            label, "min", frontier=frontier, iteration=0, force_mode="sparse"
        )
        m = eng.metrics[-1]
        assert m.mode == "sparse"
        # frontier shipment: 3 ids + 3 values (8B each) ≪ |V| vector
        assert m.bytes_shipped == 3 * 8 + 3 * 8
        assert m.bytes_shipped < n * 8 / 4
        results[transport] = (ids.copy(), vals.copy())

        # dense superstep: file transport shares the full vector through
        # the page cache; cluster transport ships per-chunk src slices
        # (test_dense_superstep_ships_chunk_slices pins the bound)
        ids_d, vals_d = eng.edge_aggregate(
            label, "min", frontier=frontier, iteration=1, force_mode="dense"
        )
        md = eng.metrics[-1]
        assert md.bytes_shipped > m.bytes_shipped  # dense ≫ frontier rows
        if transport == "file":
            assert md.bytes_shipped >= n * 8
        else:
            assert md.bytes_shipped < g.n_chunks * n * 8  # never replicated
        # engine contract: (ids, vals) pairs, order-free (callers index
        # by id) — the sliced transport's join may reorder chunk rows
        os_, od_ = np.argsort(ids), np.argsort(ids_d)
        assert np.array_equal(ids[os_], ids_d[od_])
        assert np.array_equal(vals[os_], vals_d[od_])
        eng.close()
    assert np.array_equal(results["file"][0], results["bc"][0])
    assert np.array_equal(results["file"][1], results["bc"][1])


def test_ppr_engine_matches_oracle_and_df_path(spark, built):
    src, dst, w, n, g, sym, wg = built
    from geminigraph_spark.functions.graph_algos import pagerank

    seeds_mask = np.zeros(n, dtype=bool)
    seeds_mask[::10] = True
    want = O.ppr_ref(src, dst, n, seeds_mask, iters=6)
    got, eng = pagerank_engine(g, iters=6, teleport=seeds_mask)
    assert np.allclose(got, want, atol=1e-12)
    assert all(m.mode == "dense" for m in eng.metrics)  # full frontier

    seeds = spark.createDataFrame(
        [(int(v),) for v in np.flatnonzero(seeds_mask)], "id long"
    )
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    p = pagerank(df, iters=6, teleport=seeds).toPandas()
    arr = np.full(n, np.nan)
    arr[p["id"].values] = p["rank"].values
    m = ~np.isnan(arr)
    assert np.allclose(arr[m], got[m], atol=1e-9)


def test_k_core_engine_matches_reference_and_message_budget(spark, built):
    src, dst, w, n, g, sym, wg = built
    # simple symmetrized graph: distinct undirected pairs, no self-loops
    m = src != dst
    a, b = np.minimum(src[m], dst[m]), np.maximum(src[m], dst[m])
    pairs = np.unique(np.stack([a, b], axis=1), axis=0)
    u = np.concatenate([pairs[:, 0], pairs[:, 1]])
    v = np.concatenate([pairs[:, 1], pairs[:, 0]])
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(u, v)], "src long, dst long"
    )
    simple = ChunkedGraph.build(spark, df, n_chunks=5, n_vertices=n)
    for k in (3, 5, 8):
        want = O.k_core_ref(src, dst, n, k)
        alive, eng = k_core_engine(simple, k)
        assert np.array_equal(alive, want), f"k={k}"
        # every directed edge dies at most once: total processed messages
        # across the whole peel are bounded by |E_sym|
        assert sum(m_.processed_edges for m_ in eng.metrics) <= simple.n_edges
    simple.unpersist()


def test_coreness_engine_matches_reference_and_frontier_shrinks(spark, built):
    from geminigraph_spark.operators.algorithms import coreness_engine

    src, dst, w, n, g, sym, wg = built
    m = src != dst
    a, b = np.minimum(src[m], dst[m]), np.maximum(src[m], dst[m])
    pairs = np.unique(np.stack([a, b], axis=1), axis=0)
    u = np.concatenate([pairs[:, 0], pairs[:, 1]])
    v = np.concatenate([pairs[:, 1], pairs[:, 0]])
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(u, v)], "src long, dst long"
    )
    simple = ChunkedGraph.build(spark, df, n_chunks=5, n_vertices=n)
    want = O.coreness_ref(src, dst, n)
    got, eng = coreness_engine(simple)
    assert np.array_equal(got, want)
    # the h-index fixpoint's frontier restriction: active-vertex counts
    # are non-increasing after the first full sweep and end small
    act = [m_.active_vertices for m_ in eng.metrics]
    assert act[-1] <= act[0]
    eng.close()
    simple.unpersist()


def test_hits_engine_matches_oracle(spark, built):
    from geminigraph_spark.operators.algorithms import hits_engine

    src, dst, w, n, g, sym, wg = built
    df_t = spark.createDataFrame(
        [(int(d), int(s)) for s, d in zip(src, dst)], "src long, dst long"
    )
    g_t = ChunkedGraph.build(spark, df_t, n_chunks=5, n_vertices=n)
    wa, wh = O.hits_ref(src, dst, n, iters=5)
    auth, hub, _ = hits_engine(g, g_t, iters=5)
    g_t.unpersist()
    assert np.allclose(auth, wa, atol=1e-12)
    assert np.allclose(hub, wh, atol=1e-12)


def test_single_scan_build_matches_shuffle_build(spark, built):
    """The single-scan (parquet-bucketed) build and the shuffle build
    must produce identical graphs: same degrees, boundaries, edge count
    and kernel results (r7: the build routes by |V| between them)."""
    from geminigraph_spark.operators import chunked_graph as CG

    src, dst, w, n, g, sym, wg = built
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    old_min = CG.SINGLE_SCAN_MIN_V
    CG.SINGLE_SCAN_MIN_V = 0  # force the single-scan path at fixture scale
    try:
        g2 = ChunkedGraph.build(spark, df, n_chunks=5, n_vertices=n)
        wdf = spark.createDataFrame(
            [(int(s), int(d), float(x)) for s, d, x in zip(src, dst, w)],
            "src long, dst long, w double",
        )
        wg2 = ChunkedGraph.build(
            spark, wdf, n_chunks=5, weighted=True, n_vertices=n
        )
    finally:
        CG.SINGLE_SCAN_MIN_V = old_min
    assert g2.build_meta.get("single_scan") is True
    assert g2.n_edges == g.n_edges
    assert np.array_equal(g2.boundaries, g.boundaries)
    assert np.array_equal(g2.out_degree, g.out_degree)
    assert np.array_equal(g2.in_degree, g.in_degree)
    from geminigraph_spark.operators.algorithms import (
        pagerank_engine,
        sssp_engine,
    )

    want, _ = pagerank_engine(g, iters=5)
    got, _ = pagerank_engine(g2, iters=5)
    assert np.allclose(got, want, atol=0)
    root = int(src[0])
    want_d, _ = sssp_engine(wg, root=root)
    got_d, _ = sssp_engine(wg2, root=root)
    assert np.allclose(got_d, want_d, atol=0)
    g2.unpersist()
    wg2.unpersist()


@pytest.fixture(scope="module")
def derived(spark, built):
    """The transpose and the simple symmetrized graph of the fixture."""
    src, dst, w, n, g, sym, wg = built
    df_t = spark.createDataFrame(
        [(int(d), int(s)) for s, d in zip(src, dst)], "src long, dst long"
    )
    gt = ChunkedGraph.build(spark, df_t, n_chunks=5, n_vertices=n)
    m = src != dst
    pairs = np.unique(
        np.stack([np.minimum(src[m], dst[m]), np.maximum(src[m], dst[m])], axis=1),
        axis=0,
    )
    df_s = spark.createDataFrame(
        [
            (int(a), int(b))
            for a, b in zip(
                np.concatenate([pairs[:, 0], pairs[:, 1]]),
                np.concatenate([pairs[:, 1], pairs[:, 0]]),
            )
        ],
        "src long, dst long",
    )
    simple = ChunkedGraph.build(spark, df_s, n_chunks=5, n_vertices=n)
    yield gt, simple
    gt.unpersist()
    simple.unpersist()


def _run_kernel(name, built, derived):
    """(outputs, engines) of one engine kernel on the fixture graphs."""
    from geminigraph_spark.operators.algorithms import (
        bc_engine,
        coreness_engine,
        hits_engine,
    )

    src, dst, w, n, g, sym, wg = built
    gt, simple = derived
    root = int(src[0])
    seeds = np.zeros(n, dtype=bool)
    seeds[::10] = True
    if name == "hits":
        auth, hub, eng = hits_engine(g, gt, iters=4)
        return (auth, hub), eng
    out, eng = {
        "pagerank": lambda: pagerank_engine(g, iters=6),
        "ppr": lambda: pagerank_engine(g, iters=6, teleport=seeds),
        "cc": lambda: cc_engine(sym),
        "lp": lambda: lp_engine(sym, iters=6),
        "sssp": lambda: sssp_engine(wg, root=root),
        "bfs": lambda: bfs_engine(g, root=root),
        "bc": lambda: bc_engine(g, gt, root=root),
        "k_core": lambda: k_core_engine(simple, 4),
        "coreness": lambda: coreness_engine(simple),
    }[name]()
    return (out,), eng


@pytest.mark.parametrize(
    "kernel",
    ["pagerank", "ppr", "cc", "lp", "sssp", "bfs", "bc", "k_core", "hits", "coreness"],
)
def test_driver_and_spark_routes_agree(kernel, built, derived, monkeypatch):
    """The in-driver route runs the same superstep body as the Spark job
    route: outputs are exactly equal, and so are every superstep's mode,
    active edges and processed edges."""
    from geminigraph_spark.operators import engine as E

    res = {}
    # -1 is below any superstep's work (a frontier with no out-edges has
    # work 0), so every superstep takes the job route
    for route, limit in (("spark", -1), ("driver", 1 << 62)):
        monkeypatch.setattr(E, "DRIVER_MAX_WORK", limit)
        out, eng = _run_kernel(kernel, built, derived)
        assert {m.route for m in eng.metrics} == {route}
        res[route] = (
            out,
            [(m.mode, m.active_edges, m.processed_edges) for m in eng.metrics],
        )
        eng.close()
    (out_s, steps_s), (out_d, steps_d) = res["spark"], res["driver"]
    for a, b in zip(out_s, out_d):
        assert a.dtype == b.dtype and np.array_equal(a, b)
    assert steps_s == steps_d


def test_driver_route_needs_local_master_and_auto_transport(
    built, monkeypatch, tmp_path
):
    """A non-local master never runs a superstep in the driver, nor does
    an explicit transport; the route reaches metrics.parquet, and an
    in-driver run makes no state directory."""
    import pyarrow.parquet as pq

    from geminigraph_spark.operators import engine as E
    from geminigraph_spark.plans.checkpoint import SnapshotStore, write_metrics_parquet

    src, dst, w, n, g, sym, wg = built
    monkeypatch.setattr(E, "DRIVER_MAX_WORK", 1 << 62)
    want, eng = pagerank_engine(g, iters=3)
    assert [m.route for m in eng.metrics] == ["driver"] * 3
    assert all(m.bytes_shipped == 0 for m in eng.metrics)
    assert eng._state_dir is None  # nothing was written to ship
    store = SnapshotStore(str(tmp_path), "run", "pagerank")
    table = pq.read_table(write_metrics_parquet(store, eng.metrics))
    assert table.column("route").to_pylist() == ["driver"] * 3
    eng.close()

    for transport in ("file", "bc"):
        eng = VertexEngine(g, transport=transport)
        eng.edge_aggregate(np.ones(n), "sum", iteration=0)
        assert eng.metrics[-1].route == "spark"
        eng.close()

    monkeypatch.setattr(g.spark.sparkContext, "master", "spark://cluster:7077")
    got, eng = pagerank_engine(g, iters=3)
    assert eng.transport == "bc"
    assert [m.route for m in eng.metrics] == ["spark"] * 3
    assert np.array_equal(got, want)
    eng.close()


def test_single_scan_build_needs_local_master(spark, built, monkeypatch):
    """The single-scan build reads executor-written bucket files on the
    driver, so a non-local master takes the shuffle build at any |V|."""
    from geminigraph_spark.operators import chunked_graph as CG

    src, dst, w, n, g, sym, wg = built
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    monkeypatch.setattr(CG, "SINGLE_SCAN_MIN_V", 0)
    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    g2 = ChunkedGraph.build(spark, df, n_chunks=5, n_vertices=n)
    assert not g2.build_meta.get("single_scan")
    assert np.array_equal(g2.boundaries, g.boundaries)
    assert np.array_equal(g2.in_degree, g.in_degree)
    g2.unpersist()


def test_from_arrays_submits_no_job(spark, built, spark_jobs):
    """Packing an in-memory edge list keeps the chunk list in the
    driver: no Spark job."""
    src, dst, w, n, g, sym, wg = built
    fa, jobs = spark_jobs(lambda: ChunkedGraph.from_arrays(spark, src, dst, n, 5))
    fa.unpersist()
    assert jobs == 0
    assert [c[0] for c in fa.chunks] == list(range(fa.n_chunks))
    assert sum(c[3] for c in fa.chunks) == fa.n_edges


def test_driver_engine_submits_no_job(built, spark_jobs, monkeypatch):
    """An engine whose supersteps all run in the driver reads the
    graph's chunk list directly: no Spark job."""
    from geminigraph_spark.operators import engine as E

    src, dst, w, n, g, sym, wg = built
    monkeypatch.setattr(E, "DRIVER_MAX_WORK", 1 << 62)
    (_, eng), jobs = spark_jobs(lambda: pagerank_engine(g, iters=3))
    eng.close()
    assert [m.route for m in eng.metrics] == ["driver"] * 3
    assert jobs == 0


def test_build_and_load_cache_nothing(spark, built, tmp_path, monkeypatch):
    """Neither build path nor load leaves a persisted RDD behind; the
    chunk list matches the graph and survives a save/load round trip."""
    from geminigraph_spark.operators import chunked_graph as CG

    src, dst, w, n, g, sym, wg = built
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    shuffled = ChunkedGraph.build(spark, df, n_chunks=5, n_vertices=n)
    monkeypatch.setattr(CG, "SINGLE_SCAN_MIN_V", 0)
    scanned = ChunkedGraph.build(spark, df, n_chunks=5, n_vertices=n)
    shuffled.save(str(tmp_path / "table"))
    loaded = ChunkedGraph.load(spark, str(tmp_path / "table"))
    try:
        assert scanned.build_meta.get("single_scan") is True
        assert persisted() <= before
        for graph in (shuffled, scanned, loaded):
            assert graph.build_meta["chunk_rows"] == len(graph.chunks)
            assert [c[:4] for c in graph.chunks] == [c[:4] for c in g.chunks]
            assert sum(c[3] for c in graph.chunks) == graph.n_edges
    finally:
        for graph in (shuffled, scanned, loaded):
            graph.unpersist()
