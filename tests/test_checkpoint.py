"""Kill/resume: restarting from a mid-run snapshot reproduces the straight
run exactly (north_rule resumability; SURVEY §5.5)."""

import numpy as np
import pytest

from geminigraph_spark.operators.algorithms import pagerank_engine
from geminigraph_spark.operators.chunked_graph import ChunkedGraph
from geminigraph_spark.plans.checkpoint import SnapshotStore, write_metrics_parquet


def _graph(n=100, m=600, seed=9):
    rng = np.random.default_rng(seed)
    return (
        rng.integers(0, n, m).astype(np.int64),
        rng.integers(0, n, m).astype(np.int64),
        n,
    )


@pytest.fixture(scope="module")
def g(spark):
    src, dst, n = _graph()
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    graph = ChunkedGraph.build(spark, df, n_chunks=4, n_vertices=n)
    yield graph
    graph.unpersist()


def test_resume_mid_run_identical(spark, g, tmp_path):
    straight, _ = pagerank_engine(g, iters=10)

    store = SnapshotStore(str(tmp_path), "run1", "pagerank")

    class Crash(RuntimeError):
        pass

    # crash mid-run right after checkpointing iteration 5 of 10
    def save(i, arr):
        store.save(i, arr, g.boundaries)
        if i == 5:
            raise Crash()

    with pytest.raises(Crash):
        pagerank_engine(g, iters=10, on_state=save)

    # new process: resume from the latest snapshot
    store2 = SnapshotStore(str(tmp_path), "run1", "pagerank")
    it, state = store2.latest()
    assert it == 5
    resumed, _ = pagerank_engine(g, iters=10, start=state, start_iter=it + 1)
    assert np.allclose(resumed, straight, atol=0)


def test_manifest_lineage(tmp_path, g):
    store = SnapshotStore(str(tmp_path), "run2", "pagerank")
    state = np.linspace(0, 1, g.n_vertices)
    store.save(0, state, g.boundaries)
    info = store.iterations()[0]
    assert info["rows"] == g.n_vertices
    assert sum(c["rows"] for c in info["chunks"]) == g.n_vertices
    assert len(info["chunks"]) >= 1  # per-chunk lineage present
    it, back = store.latest()
    assert it == 0
    assert np.allclose(back, state)


def test_latest_skips_future(tmp_path, g):
    store = SnapshotStore(str(tmp_path), "run3", "pagerank")
    for i in range(4):
        store.save(i, np.full(g.n_vertices, float(i)), g.boundaries)
    it, state = store.latest(before=2)
    assert it == 1
    assert (state == 1.0).all()


def test_snapshot_ids_monotonic_and_time_travel(tmp_path, g):
    """VERDICT r2 #4: Iceberg-style snapshot semantics, emulated
    explicitly — monotonic snapshot ids with a parent chain, and
    restore(snapshot_id) time-travels to any retained snapshot."""
    store = SnapshotStore(str(tmp_path), "run_ids", "pagerank")
    sids = [
        store.save(i, np.full(g.n_vertices, float(i)), g.boundaries)
        for i in range(4)
    ]
    assert sids == [1, 2, 3, 4]  # monotonic
    log = store.snapshots()
    assert [s["snapshot_id"] for s in log] == sids
    assert [s["parent_id"] for s in log] == [0, 1, 2, 3]  # lineage chain
    it, state, extra = store.restore(2)
    assert it == 1 and (state == 1.0).all() and extra is None
    with pytest.raises(KeyError):
        store.restore(99)


def test_snapshot_multi_array_roundtrip(tmp_path, g):
    """Dict states (BC's depth/sigma/dep) persist as one parquet with one
    column per array + extra metadata, and restore as the same dict."""
    store = SnapshotStore(str(tmp_path), "run_multi", "bc")
    n = g.n_vertices
    depth = np.arange(n, dtype=np.int64) % 7 - 1
    sigma = np.linspace(1, 2, n)
    sid = store.save(
        0, {"depth": depth, "sigma": sigma}, g.boundaries,
        extra={"phase": "fwd", "level": 3},
    )
    it, state, extra = store.restore(sid)
    assert it == 0 and extra == {"phase": "fwd", "level": 3}
    assert np.array_equal(state["depth"], depth)
    assert np.allclose(state["sigma"], sigma, atol=0)
    it2, state2 = store.latest()
    assert it2 == 0 and np.array_equal(state2["depth"], depth)


def test_resave_iteration_keeps_superseded_snapshot(tmp_path, g):
    """ADVICE r3 (medium): data files are snapshot-id-unique, so a rerun
    that re-saves an iteration can neither truncate the file the live
    manifest points at nor lose the superseded snapshot's data — both
    snapshot ids stay restorable, and latest() follows commit order."""
    store = SnapshotStore(str(tmp_path), "run_resave", "pagerank")
    n = g.n_vertices
    sid_a = store.save(3, np.full(n, 1.0), g.boundaries)
    # rerun into the same dir (no --resume): iteration 3 saved again
    sid_b = store.save(3, np.full(n, 2.0), g.boundaries)
    assert sid_b == sid_a + 1
    it_a, state_a, _ = store.restore(sid_a)
    it_b, state_b, _ = store.restore(sid_b)
    assert it_a == it_b == 3
    assert (state_a == 1.0).all() and (state_b == 2.0).all()
    it, state = store.latest()
    assert it == 3 and (state == 2.0).all()  # newest commit wins
    # per-iteration lineage view shows one (the newest) entry for iter 3
    assert [e["iteration"] for e in store.iterations()] == [3]
    assert store.iterations()[0]["snapshot_id"] == sid_b


def test_expire_snapshots_mid_run_then_resume_identical(spark, g, tmp_path):
    """VERDICT r3 #6: expire_snapshots(keep_last=n) prunes old data files
    + manifest entries mid-run; resuming from the newest retained
    snapshot reproduces the straight run exactly, and the expired ids
    are genuinely gone (manifest + disk) while survivors still restore."""
    straight, _ = pagerank_engine(g, iters=10)
    store = SnapshotStore(str(tmp_path), "run_exp", "pagerank")

    class Crash(RuntimeError):
        pass

    def save(i, arr):
        store.save(i, arr, g.boundaries)
        if i == 2:  # long-run retention: keep only the 2 newest
            store.expire_snapshots(keep_last=2)
        if i == 6:
            raise Crash()

    with pytest.raises(Crash):
        pagerank_engine(g, iters=10, on_state=save)

    store2 = SnapshotStore(str(tmp_path), "run_exp", "pagerank")
    log = store2.snapshots()
    assert [s["iteration"] for s in log] == [1, 2, 3, 4, 5, 6]  # 0 expired
    # survivors keep their parent_id even though snapshot 1's entry is gone
    assert log[0]["parent_id"] == 1
    import os

    remaining = [f for f in os.listdir(store2.dir) if f.endswith(".parquet")]
    assert len(remaining) == 6
    with pytest.raises(KeyError):
        store2.restore(1)
    it, state = store2.latest()
    assert it == 6
    resumed, _ = pagerank_engine(g, iters=10, start=state, start_iter=it + 1)
    assert np.allclose(resumed, straight, atol=0)


def test_bc_engine_kill_resume_by_snapshot_id(spark, g, tmp_path):
    """VERDICT r2 #5: Brandes BC resumes from a snapshot of EITHER phase
    (depth/sigma[/dep] + phase marker) to the exact straight-run output —
    the restore is driven by snapshot id."""
    import numpy as np
    from pyspark.sql import functions as SF

    from geminigraph_spark.operators.algorithms import bc_engine

    src, dst, n = _graph()
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long"
    )
    gt = ChunkedGraph.build(
        spark,
        df.select(SF.col("dst").alias("src"), SF.col("src").alias("dst")),
        n_chunks=4,
        n_vertices=n,
    )
    root = int(src[0])
    straight, _ = bc_engine(g, gt, root=root)

    store = SnapshotStore(str(tmp_path), "bc_run", "bc")
    idx = iter(range(1000))

    class Crash(RuntimeError):
        pass

    crash_at = {"phase": None, "level": None}

    def hook(phase, level, arrays):
        store.save(
            next(idx), arrays, g.boundaries,
            extra={"phase": phase, "level": int(level)},
        )
        if (phase, level) == (crash_at["phase"], crash_at["level"]):
            raise Crash()

    # crash mid-FORWARD, resume by the latest snapshot id
    crash_at.update(phase="fwd", level=1)
    with pytest.raises(Crash):
        bc_engine(g, gt, root=root, on_state=hook)
    entry = store.latest_entry()
    _it, arrays, extra = store.restore(entry["snapshot_id"])
    assert extra == {"phase": "fwd", "level": 1}
    resumed, _ = bc_engine(
        g, gt, root=root, start=(extra["phase"], extra["level"], arrays)
    )
    assert np.allclose(resumed, straight, atol=0)

    # crash mid-BACKWARD, resume by snapshot id
    store2 = SnapshotStore(str(tmp_path), "bc_run2", "bc")

    def hook2(phase, level, arrays):
        store2.save(
            next(idx), arrays, g.boundaries,
            extra={"phase": phase, "level": int(level)},
        )
        if phase == "bwd" and level == crash_at["level"]:
            raise Crash()

    # pick a backward level that exists: deepest level - 1
    maxd = 0
    def depth_probe(phase, level, arrays):
        nonlocal maxd
        maxd = max(maxd, int(arrays["depth"].max()))
    bc_engine(g, gt, root=root, on_state=depth_probe)
    assert maxd >= 2
    crash_at.update(phase="bwd", level=maxd - 2)
    with pytest.raises(Crash):
        bc_engine(g, gt, root=root, on_state=hook2)
    entry2 = store2.latest_entry()
    _it2, arrays2, extra2 = store2.restore(entry2["snapshot_id"])
    assert extra2["phase"] == "bwd"
    resumed2, _ = bc_engine(
        g, gt, root=root, start=(extra2["phase"], extra2["level"], arrays2)
    )
    gt.unpersist()
    assert np.allclose(resumed2, straight, atol=0)
