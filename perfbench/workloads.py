"""The three workloads. Each is a timed pass over seeded inputs, split into
phases, followed by untimed output checks and a cleanup that releases
every graph, engine, cached frame and spill directory the pass made.

- ``crawl``: pages -> links -> dense ids -> chunked graphs -> engine
  PageRank (snapshot after every superstep), CC, LP (snapshots) ->
  PageRank and LP resumed from a late snapshot.
- ``synth``: a pre-bucketed synthetic graph -> engine PageRank, CC, LP.
- ``crawl_df``: the crawl edges -> the DataFrame kernels PageRank, CC,
  LP and triangle count.

The seed reaches the program only through the generated inputs.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from geminigraph_spark.functions import graph_algos as dfk
from geminigraph_spark.functions.edges import symmetrize_df
from geminigraph_spark.operators.algorithms import cc_engine, lp_engine, pagerank_engine
from geminigraph_spark.operators.chunked_graph import ChunkedGraph
from geminigraph_spark.operators.synth import synth_graph
from geminigraph_spark.plans.checkpoint import SnapshotStore
from geminigraph_spark.plans.encode import encode_edges
from geminigraph_spark.sources.extract import extract_links
from geminigraph_spark.sources.pages_fixture import gen_pages_df

import checks
from harness import OpsCounter, Tracer

PR_ITERS = 20
LP_ITERS = 10
DF_LP_ITERS = 5  # the DataFrame LP costs ~1 s a superstep; ten would not fit a run
DF_CKPT_INTERVAL = 5  # DataFrame kernels checkpoint every 5th superstep, as bench.py does

#: input sizes; the first call of each set-up sample uses the small ones
SIZES = {
    "crawl_pages": 15_000,
    "synth_vertices": 1_000_000,
    "synth_edges": 4_000_000,
    "synth_chunks": 16,
    "first_call_pages": 500,
    "first_call_synth_vertices": 20_000,
    "first_call_synth_edges": 100_000,
}
DRAIN_S = 0.1  # pause after the GC drain, so cleaner work lands before the timer


@dataclass
class Ctx:
    """What a pass needs: the live session, the tracer, the operation
    counter, the run's temp root and the seed."""

    spark: object
    tracer: Tracer
    ops: OpsCounter
    tmp: str
    seed: int
    cores: int
    times: dict = field(default_factory=dict)
    engines: list = field(default_factory=list)
    graphs: list = field(default_factory=list)
    own_dirs: list = field(default_factory=list)
    _n: int = 0
    _drained_s: float = 0.0  # drain time inside the current phase
    _dirty: bool = False  # a call ran since the last drain

    @contextmanager
    def call(self, name: str, layer: str):
        """One timed call into the program: an operation and a span."""
        with self.ops.op(name), self.tracer.span(name, layer):
            yield
        self._dirty = True

    @contextmanager
    def kernel(self, name: str, layer: str):
        """A call that first drains what the previous call left behind;
        the phase time leaves the drain out."""
        if self._dirty:
            t0 = time.perf_counter()
            with self.tracer.span("drain", "drain"):
                drain(self.spark)
            self._drained_s += time.perf_counter() - t0
            self._dirty = False
        with self.call(name, layer):
            yield

    @contextmanager
    def phase(self, name: str):
        """A timed phase, started on a drained JVM and driver."""
        drain(self.spark)
        self._dirty, self._drained_s = False, 0.0
        with self.tracer.span(name, "phase"):
            t0 = time.perf_counter()
            yield
            took = time.perf_counter() - t0 - self._drained_s
            self.times[name] = self.times.get(name, 0.0) + took

    def fresh_dir(self, prefix: str, owned: bool = False) -> str:
        """A new directory under the run's temp root; ``owned`` ones are
        removed by ``release``, the rest belong to the graph built in them."""
        self._n += 1
        path = os.path.join(self.tmp, f"{prefix}_{self._n}")
        os.makedirs(path)
        if owned:
            self.own_dirs.append(path)
        return path

    def engine(self, result):
        """Keep an engine for ``close()`` and return the kernel's output."""
        out, eng = result
        self.engines.append(eng)
        return out, eng

    def graph(self, g: ChunkedGraph) -> ChunkedGraph:
        self.graphs.append(g)
        return g

    def release(self) -> None:
        """Close every engine, unpersist every graph and cached frame,
        and remove the directories the pass owns."""
        for eng in self.engines:
            eng.close()
        for g in self.graphs:
            g.unpersist()
        for d in self.own_dirs:
            shutil.rmtree(d)
        self.engines.clear()
        self.graphs.clear()
        self.own_dirs.clear()
        self.spark.catalog.clearCache()


def drain(spark) -> None:
    """Collect driver and JVM garbage before a timed phase, so cleanup
    left by earlier work does not land inside it."""
    gc.collect()
    spark._jvm.System.gc()
    time.sleep(DRAIN_S)


# ------------------------------------------------------------ shared steps
def extract_and_encode(ctx: Ctx, n_pages: int):
    """Seeded pages -> (src, dst) dense-id edges, persisted; the url
    dictionary stays cached until ``release``."""
    pages = gen_pages_df(ctx.spark, n_pages, seed=ctx.seed)
    with ctx.call("sources.extract_links", "sources"):
        links = extract_links(pages).persist()
        n_links = links.count()
    with ctx.call("plans.encode_edges", "encode"):
        ids, vdict = encode_edges(links)
        e = ids.select(F.col("src_id").alias("src"), F.col("dst_id").alias("dst")).persist()
        n_edges = e.count()
        n_vertices = vdict.count()
    links.unpersist()
    return e, {"links": n_links, "edges": n_edges, "vertices": n_vertices}


def edges_numpy(e):
    pdf = e.toPandas()
    return pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)


def snapshot_hook(ctx: Ctx, store: SnapshotStore, boundaries: np.ndarray):
    def save(i, state):
        with ctx.call("checkpoint.save", "checkpoint"):
            store.save(i, state, boundaries)
    return save


def restore_iteration(store: SnapshotStore, iteration: int):
    for snap in store.snapshots():
        if snap["iteration"] == iteration:
            it, state, _extra = store.restore(snap["snapshot_id"])
            return it, state
    raise KeyError(f"no snapshot of iteration {iteration}")


# ------------------------------------------------------------------ crawl
def crawl(ctx: Ctx, n_pages: int, iters: int, lp_iters: int) -> dict:
    spark, cores = ctx.spark, ctx.cores
    out: dict = {}
    with ctx.phase("ingest"):
        e, out["sizes"] = extract_and_encode(ctx, n_pages)
        with ctx.call("build.directed", "build"):
            g = ctx.graph(ChunkedGraph.build(
                spark, e, n_chunks=cores, spill_dir=ctx.fresh_dir("chunks")))
        with ctx.call("build.sym", "build"):
            sym = ctx.graph(ChunkedGraph.build(
                spark, symmetrize_df(e), n_chunks=cores,
                spill_dir=ctx.fresh_dir("chunks")))
    out["spill_bytes"] = dir_bytes(g.spill_dir) + dir_bytes(sym.spill_dir)
    # resume from the snapshot three quarters of the way through
    pr_from, lp_from = iters * 3 // 4 - 1, lp_iters * 3 // 4 - 1
    snaps = ctx.fresh_dir("snapshots", owned=True)
    pr_store = SnapshotStore(snaps, "run", "pagerank")
    lp_store = SnapshotStore(snaps, "run", "lp")
    with ctx.phase("analytics"):
        with ctx.kernel("engine.pagerank", "engine"):
            pr, out["eng_pagerank"] = ctx.engine(pagerank_engine(
                g, iters=iters, on_state=snapshot_hook(ctx, pr_store, g.boundaries)))
        with ctx.kernel("engine.cc", "engine"):
            cc, out["eng_cc"] = ctx.engine(cc_engine(sym))
        with ctx.kernel("engine.lp", "engine"):
            lp, out["eng_lp"] = ctx.engine(lp_engine(
                sym, iters=lp_iters, on_state=snapshot_hook(ctx, lp_store, sym.boundaries)))
    with ctx.phase("resume"):
        with ctx.call("checkpoint.restore", "checkpoint"):
            it_pr, st_pr = restore_iteration(pr_store, pr_from)
            it_lp, st_lp = restore_iteration(lp_store, lp_from)
        with ctx.kernel("resume.pagerank", "engine"):
            pr2, out["eng_pagerank_resume"] = ctx.engine(pagerank_engine(
                g, iters=iters, start=st_pr, start_iter=it_pr + 1))
        with ctx.kernel("resume.lp", "engine"):
            lp2, out["eng_lp_resume"] = ctx.engine(lp_engine(
                sym, iters=lp_iters, start=st_lp, start_iter=it_lp + 1))
    # state files only: the manifests hold wall-clock timestamps
    out["snapshot_bytes"] = dir_bytes(snaps, suffix=".parquet")
    src, dst = edges_numpy(e)
    n = g.n_vertices
    ops = ctx.ops
    ops.check("crawl.sizes", lambda: (n, len(src)) == (out["sizes"]["vertices"],
                                                       out["sizes"]["edges"]))
    ops.check("engine.pagerank=oracle", lambda: checks.pagerank_matches(pr, src, dst, n, iters))
    ops.check("engine.cc=oracle", lambda: checks.cc_matches(cc, src, dst, n))
    ops.check("engine.lp=oracle", lambda: checks.lp_matches(lp, src, dst, n, lp_iters))
    ops.check("resume.pagerank=uninterrupted", lambda: checks.same(pr2, pr))
    ops.check("resume.lp=uninterrupted", lambda: checks.same(lp2, lp))
    ctx.release()
    return out


# ------------------------------------------------------------------ synth
def synth(ctx: Ctx, n_vertices: int, n_edges: int, iters: int, lp_iters: int) -> dict:
    spark = ctx.spark
    out: dict = {"sizes": {"vertices": n_vertices, "edges": n_edges}}
    with ctx.phase("ingest"):
        with ctx.call("synth.synth_graph", "synth"):
            g = ctx.graph(synth_graph(
                spark, n_vertices, n_edges, n_chunks=SIZES["synth_chunks"],
                spill_dir=ctx.fresh_dir("synth"), seed=ctx.seed))
        with ctx.call("synth.synth_graph_sym", "synth"):
            sym = ctx.graph(synth_graph(
                spark, n_vertices, n_edges, n_chunks=SIZES["synth_chunks"],
                spill_dir=ctx.fresh_dir("synth"), seed=ctx.seed, symmetric=True))
    out["spill_bytes"] = dir_bytes(g.spill_dir) + dir_bytes(sym.spill_dir)
    keep: dict = {}

    def keep_prev(_i, state):  # the state before LP's last superstep, for its check
        keep["prev"], keep["last"] = keep.get("last"), state

    with ctx.phase("analytics"):
        with ctx.kernel("engine.pagerank", "engine"):
            pr, out["eng_pagerank"] = ctx.engine(pagerank_engine(g, iters=iters))
        with ctx.kernel("engine.cc", "engine"):
            cc, out["eng_cc"] = ctx.engine(cc_engine(sym))
        with ctx.kernel("engine.lp", "engine"):
            lp, out["eng_lp"] = ctx.engine(lp_engine(
                sym, iters=lp_iters, on_state=keep_prev))
    ops = ctx.ops
    src, dst = chunk_edges(g)
    ops.check("synth.sizes", lambda: len(src) == n_edges and g.n_vertices == n_vertices)
    ops.check("engine.pagerank=bincount", lambda: np.allclose(
        pr, checks.pagerank_bincount(src, dst, n_vertices, iters),
        rtol=checks.PR_TOL, atol=checks.PR_TOL))
    del src, dst
    ssrc, sdst = chunk_edges(sym)
    ops.check("engine.cc invariants", lambda: checks.cc_invariants_hold(cc, ssrc, sdst))
    ops.check("engine.lp last step",
              lambda: checks.lp_step_holds(keep["prev"], lp, ssrc, sdst))
    ctx.release()
    return out


def chunk_edges(g: ChunkedGraph):
    srcs, dsts = [], []
    for cid in range(g.n_chunks):
        prefix = os.path.join(g.spill_dir, f"chunk_{cid:05d}")
        srcs.append(np.load(f"{prefix}.srcs.npy"))
        dsts.append(np.load(f"{prefix}.dsts.npy"))
    return np.concatenate(srcs).astype(np.int64), np.concatenate(dsts).astype(np.int64)


# --------------------------------------------------------------- crawl_df
def crawl_df(ctx: Ctx, n_pages: int, iters: int, lp_iters: int) -> dict:
    out: dict = {}
    with ctx.phase("ingest"):
        e, out["sizes"] = extract_and_encode(ctx, n_pages)
    with ctx.phase("analytics"):
        with ctx.kernel("df.pagerank", "df"):
            pr = dfk.pagerank(e, iters=iters, ckpt_interval=DF_CKPT_INTERVAL).toPandas()
        cc_m: list = []
        with ctx.kernel("df.connected_components", "df"):
            cc = dfk.connected_components(
                e, ckpt_interval=DF_CKPT_INTERVAL, metrics=cc_m).toPandas()
        lp_m: list = []
        with ctx.kernel("df.label_propagation", "df"):
            lp = dfk.label_propagation(
                e, iters=lp_iters, ckpt_interval=DF_CKPT_INTERVAL, metrics=lp_m).toPandas()
        with ctx.kernel("df.triangle_count", "df"):
            n_tri = dfk.triangle_count(e).first()[0]
    out["df_cc_supersteps"], out["df_lp_supersteps"] = len(cc_m), len(lp_m)
    src, dst = edges_numpy(e)
    n = out["sizes"]["vertices"]
    ops = ctx.ops
    ops.check("df.pagerank=oracle", lambda: checks.pagerank_matches(
        checks.dense(pr, "rank", n, np.float64), src, dst, n, iters))
    ops.check("df.cc=oracle", lambda: checks.cc_matches(
        checks.dense(cc, "label", n, np.int64), src, dst, n))
    ops.check("df.lp=oracle", lambda: checks.lp_matches(
        checks.dense(lp, "label", n, np.int64), src, dst, n, lp_iters))
    ops.check("df.tc=oracle", lambda: checks.tc_matches(n_tri, src, dst, n))
    ctx.release()
    return out


def dir_bytes(path: str, suffix: str = "") -> int:
    total = 0
    for dp, _dn, fn in os.walk(path):
        for f in fn:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(dp, f))
    return total


def first_call(ctx: Ctx, workload: str) -> None:
    """The workload's first call into the program, on a small input: it
    starts the Python workers. Part of every set-up sample."""
    if workload == "synth":
        ctx.graph(synth_graph(
            ctx.spark, SIZES["first_call_synth_vertices"], SIZES["first_call_synth_edges"],
            n_chunks=SIZES["synth_chunks"], spill_dir=ctx.fresh_dir("first"),
            seed=ctx.seed))
    else:
        pages = gen_pages_df(ctx.spark, SIZES["first_call_pages"], seed=ctx.seed)
        extract_links(pages).count()
    ctx.release()


def run_pass(ctx: Ctx, workload: str) -> dict:
    """One timed pass of ``workload``, checked and released."""
    if workload == "crawl":
        return crawl(ctx, SIZES["crawl_pages"], PR_ITERS, LP_ITERS)
    if workload == "synth":
        return synth(ctx, SIZES["synth_vertices"], SIZES["synth_edges"],
                     PR_ITERS, LP_ITERS)
    if workload == "crawl_df":
        return crawl_df(ctx, SIZES["crawl_pages"], PR_ITERS, DF_LP_ITERS)
    raise ValueError(f"unknown workload {workload!r}")


WORKLOADS = ("crawl", "synth", "crawl_df")
