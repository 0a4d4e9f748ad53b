"""Vertex-centric workloads as declarative DataFrame pipelines.

These are the Catalyst-optimized expressions of the reference kernels
(SURVEY.md §2.3): each BSP superstep is one join + partial/final
aggregation — exactly the reference's dense/pull mode (dense_signal =
map-side partial agg, dense_slot = final agg after the shuffle,
core/graph.hpp:1663-1854). Spark's hash aggregation gives the map-side
combine and comm/compute overlap for free; AQE broadcasts the (small)
state side of the join at low |V| — which *is* the reference's
"state is resident on every socket" layout.

Parallel edges are collapsed once to (src, dst, cnt) — mathematically
identical for the sum/min/mode combiners while shrinking every iteration's
join input (the reference instead pays for every duplicate edge per
superstep: core/graph.hpp loader keeps all tuples).

Lineage: each iteration ends in ``localCheckpoint`` (or a caller-provided
checkpoint hook) — 20+ chained iterations otherwise explode the logical
plan (SURVEY.md §7 "hard parts" #1).

A faster chunked-numpy engine path for the same kernels lives in
``operators/``; both are parity-tested against functions.oracle_numpy.

Small cold calls run on that engine in the driver: ``pagerank``,
``connected_components`` and ``label_propagation`` hand the call to
``_on_driver`` when the master is local, the checkpoint hook is the
default one, no ``start``/``teleport``/``weight``/``prior_labels``/
``new_edges`` is given, and the engine graph has at most
``engine.DRIVER_MAX_WORK`` edges (counted as the input rows for
pagerank and twice them for the symmetrized CC and LP graphs). A Spark
job per superstep costs far more than a small graph's numpy work, and
such a call observes nothing between supersteps, so only its result
(same schema, same labels, ranks within 1e-9) and its per-superstep
``DFIterMetrics`` (``route="driver"``) are owed. A custom hook must
see each superstep's frame and a resume or warm start begins from a
caller's frame: those calls, personalized or weighted PageRank,
cluster masters and larger graphs keep the DataFrame kernels below.
``triangle_count`` takes the same gates and probe (``_driver_edges``)
and counts a small graph in the driver with a sorted-adjacency numpy
kernel (``_tc_sorted``) instead of the three-way self-join.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

Checkpointer = Callable[[int, DataFrame], DataFrame]

#: push (broadcast the frontier) iff active out-edges < |E| / 20 — the
#: reference's sparse/dense switch, core/graph.hpp:1502-1508.
SPARSE_DENOM = 20

#: absolute guard on the broadcast: the /20 rule is RELATIVE, so on a
#: 10^12-edge graph a "sparse" frontier can still hold 10^8+ rows — far
#: past what a driver/executor can materialize as a broadcast table.
#: Frontiers above this row count keep the frontier RESTRICTION (only
#: changed vertices emit) but join by shuffle instead of broadcast —
#: same results, bounded memory. ~4M rows ≈ 64 MB at 16 B/row.
BROADCAST_FRONTIER_MAX = 4_000_000

#: broadcast the per-superstep STATE/MESSAGE side of the iteration joins
#: when |V| is at most this row count (guide §3.1: pick the join strategy
#: deliberately). The iterative kernels' state frames descend from
#: localCheckpoint (LogicalRDD, no statistics), so Catalyst's
#: auto-broadcast NEVER fires on them and every superstep degenerates to
#: a SortMergeJoin — measured r7 on the 198k-vertex pipeline graph: the
#: base⋈msgs left join was SortMergeJoin with two full exchanges per
#: iteration. Same bounded-residency discipline as
#: BROADCAST_FRONTIER_MAX; above the cap the shuffle join stands
#: (results identical either way).
BROADCAST_STATE_MAX = 4_000_000


#: edge-side bound for the scoped AQE-off: AQE's skew-join protection
#: acts on the EDGE-sized exchanges, so a small-|V|/huge-|E| skewed
#: graph must keep it even when the state side is tiny. ~50M collapsed
#: edge rows is where one straggler partition would start to hurt.
NO_AQE_EDGES_MAX = 50_000_000

#: per-shuffle-partition STATE-row target inside the small-graph kernel
#: scope (guide §2.2: size partitions by data, not by core count): a
#: 198k-row state sharded 32 ways is ~100 KB/task of pure scheduling
#: overhead per exchange. The scope derives the partition count from
#: |V| / this target (floor 4) and NEVER raises it above the session's
#: own setting, so large graphs are untouched.
SMALL_GRAPH_ROWS_PER_PARTITION = 25_000


@contextmanager
def _small_graph_scope(
    spark, n_rows: int, n_edge_rows: int, disable_aqe: bool = True
):
    """Scoped runtime-conf adaptation for SMALL-graph iterative kernels,
    gated by problem SIZE on both dimensions (state rows ≤
    BROADCAST_STATE_MAX and edge rows ≤ NO_AQE_EDGES_MAX — past either,
    a no-op and AQE's skew-join/coalescing protections stay untouched):

    - shuffle partitions sized by |V| (SMALL_GRAPH_ROWS_PER_PARTITION,
      never above the session setting): measured r7 on the 198k-vertex
      pipeline graph, 32→8 partitions took cc DF 7.2→4.4 s and
      pagerank DF 10.2→8.1 s — the exchanges carry ~3 MB total, so
      per-task scheduling dominates.
    - ``disable_aqe`` (lazy-chain kernels only): AQE inserts a
      materialization barrier + runtime re-plan at every exchange; a
      20-iteration lazy chain carries 40+ exchanges of a few MB each
      (measured r7: pagerank20 DF 20.8 s AQE-on vs 9.8 s AQE-off,
      identical results). The materialized-per-step kernels keep AQE on
      (measured neutral there).

    Scope caveats (accepted): the flags are session-level, so a
    concurrent query on the same SparkSession during the kernel loop
    would see them; and a caller-supplied LAZY checkpoint hook defers
    execution past the restore, losing (only) the optimization. The
    kernels' own default hooks are eager and the driver runs kernels
    sequentially."""
    if n_rows > BROADCAST_STATE_MAX or n_edge_rows > NO_AQE_EDGES_MAX:
        yield
        return
    conf = spark.conf
    prev_aqe = conf.get("spark.sql.adaptive.enabled", "true")
    prev_sp = conf.get("spark.sql.shuffle.partitions", "200")
    try:
        prev_sp_n = int(prev_sp)
    except ValueError:  # pragma: no cover
        prev_sp_n = 200
    target = max(
        4, min(prev_sp_n, -(-n_rows // SMALL_GRAPH_ROWS_PER_PARTITION))
    )
    if disable_aqe:
        conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", prev_aqe)
        conf.set("spark.sql.shuffle.partitions", prev_sp)


@dataclass
class DFIterMetrics:
    """Per-superstep record for the iterative kernels."""

    iteration: int
    mode: str  # "sparse" (broadcast frontier) | "dense" (shuffle join)
    active_vertices: int
    active_edges: int
    route: str = "dataframe"  # "driver": an engine superstep in the driver


def _default_ckpt(_i: int, df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


class _IntervalCkpt:
    """Checkpoint every ``interval`` supersteps instead of every one
    (VERDICT r2 #6), bounding plan depth at ≤ interval joins and resume
    replay at ≤ interval−1 supersteps while cutting the per-superstep
    eager-materialization jobs that dominate the DF kernels' wall time.

    Two behaviors between checkpoints:
    - ``lazy_chain=True`` (kernels with no per-step aggregate, e.g.
      PageRank): intermediate states are left fully lazy — the k-th
      checkpoint computes the k chained joins in ONE job.
    - ``lazy_chain=False`` (fixpoint kernels whose convergence aggregate
      touches every new state): intermediate states get a LAZY
      localCheckpoint, so the aggregate's own job doubles as the
      materialization (one job per superstep instead of two) and lineage
      is still truncated every step; references to older intermediates
      are dropped after the newer one materializes (``materialized()``)
      so the ContextCleaner reaps their blocks."""

    def __init__(self, checkpoint: Checkpointer, interval: int, lazy_chain: bool):
        self.checkpoint = checkpoint
        self.interval = max(1, interval)
        self.lazy_chain = lazy_chain
        self._pending: list[DataFrame] = []

    def step(self, i: int, df: DataFrame, force: bool = False) -> DataFrame:
        if force or i < 0 or (i + 1) % self.interval == 0:
            out = self.checkpoint(i, df)  # eager: intermediates now dead
            self._pending.clear()
            return out
        if self.lazy_chain:
            return df
        # lazy localCheckpoint: materialized by the caller's convergence
        # aggregate (ONE job — no separate eager materialization job),
        # stored as raw RDD partitions with truncated lineage
        out = df.localCheckpoint(eager=False)
        self._pending.append(out)
        return out

    def materialized(self) -> None:
        """The newest pending frame is now stored; drop references to the
        older ones — never explicitly unpersist a lineage-truncated frame
        (its blocks are its only copy); the ContextCleaner reaps the
        blocks once the RDD is unreferenced."""
        while len(self._pending) > 1:
            self._pending.pop(0)


def _vertices_of(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )


def _collapsed(edges: DataFrame) -> DataFrame:
    return edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))


def _sym_multiset(src: np.ndarray, dst: np.ndarray):
    """symmetrize_df on dense-id arrays."""
    return np.concatenate([src, dst]), np.concatenate([dst, src])


def _sym_distinct(src: np.ndarray, dst: np.ndarray):
    """symmetrize_df(...).distinct() on dense-id arrays."""
    s, d = _sym_multiset(src, dst)
    n = int(max(s.max(), d.max())) + 1
    key = np.unique(s * n + d)
    return key // n, key % n


def _driver_edges(edges: DataFrame, per_row: int):
    """The gates and probe shared by the in-driver routes. Returns
    ``(ids, src, dst)`` with ``src``/``dst`` dense ids into the sorted
    ``ids``, or None when the call stays on the DataFrame path.

    Taken on a local master (``session.is_local_master``) for long,
    non-null ``src``/``dst`` when the input has at most
    ``engine.DRIVER_MAX_WORK // per_row`` rows: ``per_row`` bounds the
    driver-side edges an input row makes, so they fit the cap. The edges
    are collected through Arrow with a ``limit`` probe of one row more,
    so a larger input falls through after one job that ships at most
    that many rows. Dense ids keep the order of the ids, so min-id
    labels, smallest-label tie breaks and (degree, id) ranks are
    unchanged."""
    from ..operators import engine
    from ..session import is_local_master

    if not is_local_master(edges.sparkSession):
        return None
    if any(edges.schema[c].dataType != T.LongType() for c in ("src", "dst")):
        return None
    # DataFrame.limit takes a Java int: keep the probe (rows + 1) in range
    rows = min(engine.DRIVER_MAX_WORK // per_row, 2**31 - 2)
    t = edges.select("src", "dst").limit(rows + 1).toArrow()
    if not 0 < t.num_rows <= rows or t["src"].null_count or t["dst"].null_count:
        return None
    m = t.num_rows
    ids, dense = np.unique(
        np.concatenate([t["src"].to_numpy(), t["dst"].to_numpy()]),
        return_inverse=True,
    )
    return ids, dense[:m], dense[m:]


def _on_driver(edges, checkpoint, metrics, value, derive, run, per_row=1):
    """The in-driver route of pagerank / connected_components /
    label_propagation: the same recurrence on the chunked engine, whose
    supersteps then all run in the driver process. Returns the result
    frame, or None when the call stays on the DataFrame path.

    Taken for a call with the default checkpoint hook whose edges pass
    ``_driver_edges``; ``per_row`` is the engine-graph edges an input row
    makes (1 for the directed multiset, 2 for the symmetrized graphs),
    so the engine graph fits the cap. ``derive(src, dst)`` gives the
    engine graph's edges, ``run(graph)`` the kernel's (values, engine);
    label values are mapped back to ids."""
    from ..operators.chunked_graph import ChunkedGraph

    if checkpoint is not _default_ckpt:
        return None
    probe = _driver_edges(edges, per_row)
    if probe is None:
        return None
    ids, src, dst = probe
    spark = edges.sparkSession
    g = ChunkedGraph.from_arrays(spark, *derive(src, dst), len(ids))
    eng = None
    try:
        vals, eng = run(g)
    finally:
        if eng is not None:
            eng.close()
        g.unpersist()
    if metrics is not None:
        metrics.extend(
            DFIterMetrics(
                s.iteration, s.mode, s.active_vertices, s.active_edges, "driver"
            )
            for s in eng.metrics
        )
    # the DataFrame path's schema: ids (and the labels drawn from them)
    # are nullable as the input is, a final rank never is
    nullable = any(edges.schema[c].nullable for c in ("src", "dst"))
    if value == "label":
        vals, vfield = ids[vals], T.StructField(value, T.LongType(), nullable)
    else:
        vfield = T.StructField(value, T.DoubleType(), False)
    schema = T.StructType([T.StructField("id", T.LongType(), nullable), vfield])
    return spark.createDataFrame(pd.DataFrame({"id": ids, value: vals}), schema)


def degrees(edges: DataFrame) -> DataFrame:
    """(id, out_degree, in_degree) over the edge multiset — the loader's
    degree pass (core/graph.hpp:798-821): every tuple counts."""
    verts = _vertices_of(edges)
    od = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    ind = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        verts.join(od, "id", "left")
        .join(ind, "id", "left")
        .fillna(0, subset=["out_degree", "in_degree"])
    )


def pagerank(
    edges: DataFrame,
    iters: int = 20,
    d: float = 0.85,
    checkpoint: Checkpointer = _default_ckpt,
    start: DataFrame | None = None,
    start_iter: int = 0,
    redistribute_dangling: bool = False,
    ckpt_interval: int = 1,
    metrics: list[DFIterMetrics] | None = None,
    teleport: DataFrame | None = None,
    weight: str | None = None,
) -> DataFrame:
    """Reference PageRank recurrence (toolkits/pagerank.cpp:24-99):
    state pre-divided by out-degree between iterations, final iteration
    undivided. Each step is r ← (1-d)·tele + d·(Σ_in + dm/|V|), the
    shape of ``operators.algorithms.pagerank_engine``. Returns
    (id long, rank double).

    Dangling mass: the reference DROPS it (pagerank.cpp:77-97 — sinks
    receive (1-d)·tele and their accumulated rank leaves the system), and
    that is the default here (dm = 0) so scores match the reference
    exactly. The textbook power-iteration reading (BASELINE north_star)
    REDISTRIBUTES it: ``redistribute_dangling=True`` adds
    dm = Σ_{{outd=0}} rank to every vertex's incoming sum as dm/|V| — one
    extra aggregate per iteration.

    ``teleport`` (a frame with column ``id``) makes it personalized
    PageRank: tele is the seed indicator 1[v∈seeds], joined once into the
    persisted per-vertex base, and the initial state is the indicator
    (mass |S|); without it tele is 1 everywhere (mass |V|). ``weight``
    names an edge-weight column: parallel edges add their weights, and
    state is pre-divided by each vertex's total OUT-WEIGHT instead of
    its out-degree (dangling = zero out-weight). ``metrics`` counts
    edges either way.

    ``start``/``start_iter`` resume from a checkpointed state (id, rank)
    of a call with the same arguments: snapshots hold the pre-divided
    state except the final iteration's, so a resume is valid only
    toward the same ``iters``. ``ckpt_interval=k`` checkpoints every
    k-th iteration only (resume replays ≤ k−1); intermediate iterations
    stay lazy, so the k-th checkpoint runs k chained joins in one job
    instead of k jobs.

    A cold uniform call (no ``start``, ``teleport`` or ``weight``) with
    the default checkpoint hook on a small graph runs on the engine in
    the driver (see ``_on_driver``).
    """
    if start is None and teleport is None and weight is None:
        from ..operators.algorithms import pagerank_engine

        out = _on_driver(
            edges, checkpoint, metrics, "rank", lambda s, t: (s, t),
            lambda g: pagerank_engine(
                g, iters, d, start_iter=start_iter,
                redistribute_dangling=redistribute_dangling,
            ),
        )
        if out is not None:
            return out
    ck = _IntervalCkpt(
        checkpoint, ckpt_interval, lazy_chain=not redistribute_dangling
    )
    if weight is None:
        ew = _collapsed(edges).persist()
    else:
        ew = edges.groupBy("src", "dst").agg(F.sum(weight).alias("cnt")).persist()
    verts = _vertices_of(edges)
    deg = ew.groupBy(F.col("src").alias("id")).agg(
        F.sum("cnt").cast("double").alias("outd")
    )
    base = verts.join(deg, "id", "left")
    if teleport is None:
        base = base.fillna(0.0, subset=["outd"])
        tele = F.lit(1.0)
    else:
        seeds = teleport.select("id").distinct().withColumn("tele", F.lit(1.0))
        base = base.join(seeds, "id", "left").fillna({"outd": 0.0, "tele": 0.0})
        tele = F.col("tele")
    base = base.persist()
    st = base.agg(F.count(F.lit(1)), F.sum("outd")).first()
    n_verts, n_edges = st[0], int(st[1] or 0)
    if weight is not None and metrics is not None:
        n_edges = edges.count()  # the out-degree sum is the weight sum
    # NOTE (r7, measured): broadcast-hinting the state/msgs joins here is
    # a LOSS for this lazy-chain kernel — with ckpt_interval=k the k
    # chained iterations nest 2k BroadcastExchanges, each a separate
    # driver collect+rebroadcast job (198k-vertex pipeline graph, 20
    # iters: baseline 19.7 s vs 24.5-29.6 s for every hinted variant).
    # The materialized-per-step kernels (_min_fixpoint, lp, hits) DO
    # benefit — see BROADCAST_STATE_MAX there.
    n_ew = ew.count()

    with _small_graph_scope(edges.sparkSession, n_verts, n_ew):
        if start is not None:
            curr = start.select("id", F.col("rank").alias("r"))
        else:
            curr = base.select(
                "id",
                F.when(F.col("outd") > 0, tele / F.col("outd"))
                .otherwise(tele)
                .alias("r"),
            )
            curr = ck.step(-1, curr)

        for i in range(start_iter, iters):
            if metrics is not None:
                metrics.append(DFIterMetrics(i, "dense", n_verts, n_edges))
            dm = 0.0
            if redistribute_dangling:
                # dangling vertices are undivided, so their r IS their rank
                dm = (
                    curr.join(base.where(F.col("outd") == 0.0).select("id"), "id")
                    .agg(F.sum("r"))
                    .first()[0]
                    or 0.0
                )
                ck.materialized()
            msgs = (
                ew.join(curr.withColumnRenamed("id", "src"), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("r") * F.col("cnt")).alias("s"))
                .withColumnRenamed("dst", "id")
            )
            val = F.lit(1.0 - d) * tele + F.lit(d) * (
                F.coalesce(F.col("s"), F.lit(0.0)) + F.lit(dm / max(n_verts, 1))
            )
            if i != iters - 1:
                r = F.when(F.col("outd") > 0, val / F.col("outd")).otherwise(val)
            else:
                r = val
            curr = base.join(msgs, "id", "left").select("id", r.alias("r"))
            curr = ck.step(i, curr, force=(i == iters - 1))

    ew.unpersist()
    return curr.select("id", F.col("r").alias("rank"))


def _min_fixpoint(
    ew: DataFrame,
    init: DataFrame,
    msg_expr,
    max_iters: int,
    checkpoint: Checkpointer,
    metrics: list[DFIterMetrics] | None = None,
    ckpt_interval: int = 1,
) -> DataFrame:
    """Frontier-restricted min-combiner fixpoint — the distributed shape of
    the reference's ``process_edges`` loop (core/graph.hpp:1492-1866).

    ``ew``: the (persisted) message edge table (src, dst[, w]).
    ``init``: state DF (id, val, outd, changed) — ``changed`` marks the
    initial frontier, ``outd`` is the vertex's out-degree in ``ew``.
    ``msg_expr``: column over (val[, w]) — the relaxation message.

    Per superstep, messages are generated ONLY from the frontier (vertices
    whose ``val`` decreased last iteration) — semantics-preserving for a
    min combiner, and the analogue of the reference's sparse/push signal
    scan (graph.hpp:1540-1551). Mode rule is the reference's, verbatim:
    broadcast the frontier (push) iff its active out-edges < |E|/20
    (graph.hpp:1508); otherwise a plain shuffle join (pull). The changed
    count AND next frontier's active-edge count come from one cheap
    aggregate over the just-checkpointed state — no re-join of consecutive
    states (the superstep costs one materialization + one scan).
    """
    n_edges = ew.count()  # ew is persisted by callers; this seeds the rule
    ck = _IntervalCkpt(checkpoint, ckpt_interval, lazy_chain=False)
    curr = ck.step(-1, init)
    stats = curr.agg(
        F.sum(F.col("changed").cast("long")).alias("nc"),
        F.sum(F.when(F.col("changed"), F.col("outd")).otherwise(F.lit(0))).alias("ae"),
        F.count(F.lit(1)).alias("nv"),
    ).first()
    n_changed, active_edges = int(stats["nc"] or 0), int(stats["ae"] or 0)
    # |V| is constant across supersteps; bounds the msgs side (≤ one row
    # per dst) for the state-join broadcast hint (guide §3.1)
    n_verts = int(stats["nv"] or 0)
    small_state = n_verts <= BROADCAST_STATE_MAX
    with _small_graph_scope(
        ew.sparkSession, n_verts, n_edges, disable_aqe=False
    ):
        for i in range(max_iters):
            if n_changed == 0:
                break
            sparse = active_edges < n_edges / SPARSE_DENOM
            if metrics is not None:
                metrics.append(
                    DFIterMetrics(
                        i, "sparse" if sparse else "dense", n_changed, active_edges
                    )
                )
            fr = curr.where("changed").select(
                F.col("id").alias("src"), F.col("val").alias("vsrc")
            )
            # the frontier is always ≤ n_changed rows — broadcast it
            # whenever it fits, dense supersteps included (the /20 rule
            # decides which edges are SCANNED, not which join strategy
            # fits in memory)
            if n_changed <= BROADCAST_FRONTIER_MAX:
                fr = F.broadcast(fr)
            msgs = (
                ew.join(fr, "src")
                .groupBy("dst")
                .agg(F.min(msg_expr).alias("m"))
                .withColumnRenamed("dst", "id")
            )
            if small_state:
                msgs = F.broadcast(msgs)
            nxt = curr.join(msgs, "id", "left").select(
                "id",
                F.least(
                    F.col("val"), F.coalesce(F.col("m"), F.col("val"))
                ).alias("val"),
                "outd",
                (F.coalesce(F.col("m"), F.col("val")) < F.col("val")).alias(
                    "changed"
                ),
            )
            curr = ck.step(i, nxt)
            stats = curr.agg(
                F.sum(F.col("changed").cast("long")).alias("nc"),
                F.sum(
                    F.when(F.col("changed"), F.col("outd")).otherwise(F.lit(0))
                ).alias("ae"),
            ).first()
            ck.materialized()  # the agg's job populated the new state cache
            n_changed, active_edges = int(stats["nc"] or 0), int(stats["ae"] or 0)
    return curr.select("id", "val")


def _with_outd(verts: DataFrame, ew: DataFrame) -> DataFrame:
    """Attach each vertex's out-degree in the message graph (drives the
    |E_active| accounting, graph.hpp:1502-1507)."""
    deg = ew.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outd")
    )
    return verts.join(deg, "id", "left").fillna(0, subset=["outd"])


def connected_components(
    edges: DataFrame,
    max_iters: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
    metrics: list[DFIterMetrics] | None = None,
    ckpt_interval: int = 1,
) -> DataFrame:
    """HashMin min-label propagation to fixpoint over the symmetrized graph
    (toolkits/cc.cpp:22-109), frontier-restricted: after the first sweep
    only vertices whose label dropped emit (cc.cpp:48-59 activation).
    Returns (id long, label long). Small graphs with the default
    checkpoint hook run on the engine in the driver (see ``_on_driver``)."""
    from ..operators.algorithms import cc_engine
    from .edges import symmetrize_df

    out = _on_driver(
        edges, checkpoint, metrics, "label", _sym_distinct,
        lambda g: cc_engine(g, max_iters=max_iters), per_row=2,
    )
    if out is not None:
        return out
    sym = symmetrize_df(edges).distinct().persist()
    verts = _vertices_of(edges)
    init = _with_outd(verts, sym).select(
        "id", F.col("id").alias("val"), "outd", F.lit(True).alias("changed")
    )
    out = _min_fixpoint(
        sym, init, F.col("vsrc"), max_iters, checkpoint, metrics, ckpt_interval
    )
    sym.unpersist()
    return out.select("id", F.col("val").alias("label"))


def connected_components_warm(
    edges: DataFrame,
    prior_labels: DataFrame,
    new_edges: DataFrame,
    max_iters: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
    metrics: list[DFIterMetrics] | None = None,
    ckpt_interval: int = 1,
) -> DataFrame:
    """CC over a graph that GREW by appended edges, warm-started from the
    prior run's converged labels — the DataFrame-path twin of
    operators/algorithms.cc_engine_warm (VERDICT r5 missing #1: the DF
    kernels are the declared scale path for |V| beyond driver residency,
    and a 100-TB crawl grows continuously).

    ``edges`` is the FULL post-append edge table, ``prior_labels`` the
    (id, label) fixpoint of the pre-append graph, ``new_edges`` the
    appended rows only. Initial state: prior label where one exists,
    own id otherwise (new vertices); initial frontier: appended-edge
    endpoints plus label-less (new) vertices — the only places new
    information can originate when the prior state is a fixpoint.
    EXACT: HashMin labels are min-member ids, the min of old min-ids
    over a merged component is the global min, and every merge seam is
    an appended edge whose two endpoints seed the frontier. Everything is
    join/agg — the prior labels are never collected to the driver."""
    from .edges import symmetrize_df

    sym = symmetrize_df(edges).distinct().persist()
    verts = _vertices_of(edges)
    seam = _vertices_of(new_edges).withColumn("in_seam", F.lit(True))
    pri = prior_labels.select("id", F.col("label").alias("pl"))
    init = (
        _with_outd(verts, sym)
        .join(pri, "id", "left")
        .join(seam, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("pl"), F.col("id")).alias("val"),
            "outd",
            (
                F.coalesce(F.col("in_seam"), F.lit(False))
                | F.col("pl").isNull()
            ).alias("changed"),
        )
    )
    out = _min_fixpoint(
        sym, init, F.col("vsrc"), max_iters, checkpoint, metrics, ckpt_interval
    )
    sym.unpersist()
    return out.select("id", F.col("val").alias("label"))


def label_propagation(
    edges: DataFrame,
    iters: int = 10,
    checkpoint: Checkpointer = _default_ckpt,
    ckpt_interval: int = 1,
    metrics: list[DFIterMetrics] | None = None,
    prior_labels: DataFrame | None = None,
    new_edges: DataFrame | None = None,
) -> DataFrame:
    """Synchronous label propagation (SURVEY §2.3 A6): over the symmetrized
    multiset graph, new label = most frequent incoming label, ties broken
    by smallest label; vertices with no incoming labels keep theirs.

    Frontier-restricted (VERDICT r3 #2, the cc.cpp:48-59 activation
    discipline applied to A6): a vertex's mode can only change if ≥1
    in-neighbor's label changed, so once the frontier's active out-edges
    drop under |E|/20 the recompute is restricted to dsts touched by the
    frontier — over ALL their in-edges (a mode is not decomposable over a
    frontier subset, unlike min/sum), with the frontier broadcast to find
    the touched dsts. Untouched dsts keep their label: their in-label
    multiset is unchanged, so the restriction is semantics-preserving and
    the oracle-checked result is identical. Empty frontier ⇒ early exit
    (synchronous LP at a fixpoint is a no-op forever after).

    Per-step convergence aggregate ⇒ ``ckpt_interval`` uses the lazy
    localCheckpoint discipline (see _IntervalCkpt).

    WARM START (the DF twin of operators/algorithms.lp_engine's
    ``start``/``start_frontier`` contract, VERDICT r5 missing #1): pass
    ``prior_labels`` (id, label) to start from a prior run's state —
    vertices without a prior label (new ones) start at their own id.
    With ``new_edges`` also given AND the prior labels a FIXPOINT of the
    pre-append graph, the initial frontier narrows to the appended-edge
    endpoints + new vertices (only vertices whose in-multiset changed can
    flip in the first sweep — identical labels to the full resume sweep,
    pinned by test_lp_warm_df_restricted_equals_full); without
    ``new_edges`` the frontier is the safe "everyone" over-approximation.

    A cold call (no ``prior_labels``/``new_edges``) with the default
    checkpoint hook on a small graph runs on the engine in the driver
    (see ``_on_driver``), over the same symmetrized multiset."""
    from .edges import symmetrize_df

    if prior_labels is None and new_edges is None:
        from ..operators.algorithms import lp_engine

        out = _on_driver(
            edges, checkpoint, metrics, "label", _sym_multiset,
            lambda g: lp_engine(g, iters), per_row=2,
        )
        if out is not None:
            return out
    ck = _IntervalCkpt(checkpoint, ckpt_interval, lazy_chain=False)
    sym = _collapsed(symmetrize_df(edges)).persist()
    n_edges = int(sym.agg(F.sum("cnt")).first()[0])
    verts = _vertices_of(edges)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.sum("cnt").alias("outd"))
    init = verts.join(deg, "id", "left").fillna(0, subset=["outd"])
    if prior_labels is not None:
        pri = prior_labels.select("id", F.col("label").alias("pl"))
        init = init.join(pri, "id", "left")
        if new_edges is not None:
            seam = _vertices_of(new_edges).withColumn("in_seam", F.lit(True))
            fro = F.coalesce(F.col("in_seam"), F.lit(False)) | F.col("pl").isNull()
            init = init.join(seam, "id", "left")
        else:
            fro = F.lit(True)
        init = init.select(
            "id",
            F.coalesce(F.col("pl"), F.col("id")).alias("label"),
            "outd",
            fro.alias("changed"),
        )
    else:
        init = init.select(
            "id", F.col("id").alias("label"), "outd", F.lit(True).alias("changed")
        )
    curr = ck.step(-1, init)
    stats = curr.agg(
        F.sum(F.col("changed").cast("long")).alias("nc"),
        F.sum(F.when(F.col("changed"), F.col("outd")).otherwise(F.lit(0))).alias("ae"),
        F.count(F.lit(1)).alias("nv"),
    ).first()
    n_changed, active_edges = int(stats["nc"] or 0), int(stats["ae"] or 0)
    # state frames descend from localCheckpoint (no stats): hint the |V|-
    # bounded join sides explicitly when they fit (guide §3.1)
    small_state = int(stats["nv"] or 0) <= BROADCAST_STATE_MAX
    w = Window.partitionBy("dst").orderBy(F.col("c").desc(), F.col("lsrc").asc())
    n_verts = int(stats["nv"] or 0)
    with _small_graph_scope(
        sym.sparkSession, n_verts, n_edges, disable_aqe=False
    ):
        for i in range(iters):
            if n_changed == 0:
                break
            sparse = active_edges < n_edges / SPARSE_DENOM
            if metrics is not None:
                metrics.append(
                    DFIterMetrics(i, "sparse" if sparse else "dense", n_changed, active_edges)
                )
            if sparse:
                # touched dsts from the frontier, then ALL in-edges of those
                # dsts (plain shuffle join on dst — the touched set is
                # frontier-sized, not broadcastable in general)
                fr = curr.where("changed").select(F.col("id").alias("src"))
                if n_changed <= BROADCAST_FRONTIER_MAX:
                    fr = F.broadcast(fr)
                touched = sym.join(fr, "src").select("dst").distinct()
                if small_state:  # ≤ one row per dst vertex
                    touched = F.broadcast(touched)
                base = sym.join(touched, "dst")
            else:
                base = sym
            lab_src = curr.select(
                F.col("id").alias("src"), F.col("label").alias("lsrc")
            )
            if small_state:
                lab_src = F.broadcast(lab_src)
            counts = base.join(lab_src, "src").groupBy("dst", "lsrc").agg(
                F.sum("cnt").alias("c")
            )
            pick = (
                counts.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select(F.col("dst").alias("id"), F.col("lsrc").alias("newl"))
            )
            if small_state:
                pick = F.broadcast(pick)
            curr = ck.step(
                i,
                curr.join(pick, "id", "left").select(
                    "id",
                    F.coalesce(F.col("newl"), F.col("label")).alias("label"),
                    "outd",
                    (F.coalesce(F.col("newl"), F.col("label")) != F.col("label")).alias(
                        "changed"
                    ),
                ),
                force=(i == iters - 1),
            )
            stats = curr.agg(
                F.sum(F.col("changed").cast("long")).alias("nc"),
                F.sum(F.when(F.col("changed"), F.col("outd")).otherwise(F.lit(0))).alias("ae"),
            ).first()
            ck.materialized()
            n_changed, active_edges = int(stats["nc"] or 0), int(stats["ae"] or 0)
    sym.unpersist()
    return curr.select("id", "label")


def _oriented(edges: DataFrame) -> DataFrame:
    """Distinct undirected edges (self-loops dropped) oriented by
    (degree, id) rank low→high — SURVEY §2.3 A7; bounds the skew of the
    heavy self-join (hubs become intersection *targets*, never probes)."""
    und = _simple_und(edges)
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("degb"))
    j = und.join(da, "a").join(db, "b")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    return j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
    )


def _triangles(o: DataFrame) -> DataFrame:
    """(x, y, z), one row per triangle of the oriented edges ``o``:
    x→y and y→z closed by x→z."""
    e1 = o.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    e2 = o.select(F.col("lo").alias("y"), F.col("hi").alias("z"))
    e3 = o.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    return e1.join(e2, "y").join(e3, ["x", "z"])


def _tc_sorted(src: np.ndarray, dst: np.ndarray, n: int) -> int:
    """Triangles among dense ids < ``n`` (SURVEY §2.3 A7) by sorted
    adjacency: distinct undirected edges without self-loops, oriented
    from lower to higher (degree, id) rank and sorted into CSR by
    (lo, hi). Each oriented edge (x, y) makes a wedge (y, z) for every
    later neighbour z of x, and the triangle closes when y→z is an
    edge, looked up by ``searchsorted`` on the sorted edge keys.

    Wedges are enumerated in blocks of consecutive edges holding at most
    max(m, one edge's wedges) of them, so memory stays on the order of
    the m edges."""
    a, b = np.minimum(src, dst), np.maximum(src, dst)
    keep = a != b
    key = np.unique(a[keep] * n + b[keep])
    a, b = key // n, key % n
    deg = np.bincount(a, minlength=n) + np.bincount(b, minlength=n)
    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((np.arange(n), deg))] = np.arange(n)
    ra, rb = rank[a], rank[b]
    key = np.sort(np.minimum(ra, rb) * n + np.maximum(ra, rb))
    m = len(key)
    if m == 0:
        return 0
    lo, hi = key // n, key % n
    row_end = np.cumsum(np.bincount(lo, minlength=n))
    wedges = row_end[lo] - 1 - np.arange(m)  # later neighbours of lo
    ends = np.cumsum(wedges)
    budget = max(m, int(wedges.max()))
    total, s = 0, 0
    while s < m:
        first = int(ends[s] - wedges[s])  # the block's first wedge
        e = int(np.searchsorted(ends, first + budget, side="right"))
        i = np.repeat(np.arange(s, e), wedges[s:e])
        j = i + 1 + np.arange(first, int(ends[e - 1])) - (ends[i] - wedges[i])
        q = hi[i] * n + hi[j]
        pos = np.minimum(np.searchsorted(key, q), m - 1)
        total += int(np.count_nonzero(key[pos] == q))
        s = e
    return total


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count (1 row: n_triangles long).

    On a local master an input of at most ``engine.DRIVER_MAX_WORK``
    rows of long, non-null ids (each row gives at most one oriented
    edge) is collected by ``_driver_edges``' probe and counted in the
    driver by ``_tc_sorted``. Other calls run the three-way self-join
    over the oriented edges, counted eagerly so its cache is released
    before the one-row result is returned."""
    probe = _driver_edges(edges, per_row=1)
    if probe is not None:
        ids, src, dst = probe
        n = _tc_sorted(src, dst, len(ids))
    else:
        o = _oriented(edges).persist()
        try:
            n = _triangles(o).agg(F.count(F.lit(1))).first()[0]
        finally:
            o.unpersist()
    # through Arrow, like _on_driver's result: a frame made from a Python
    # list would run its jobs through Python workers
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"n_triangles": [n]}),
        T.StructType([T.StructField("n_triangles", T.LongType(), False)]),
    )


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """(id, n_tri) per vertex (vertices in ≥1 triangle)."""
    tri = _triangles(_oriented(edges))
    corners = (
        tri.select(F.col("x").alias("id"))
        .unionByName(tri.select(F.col("y").alias("id")))
        .unionByName(tri.select(F.col("z").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_tri"))


def sssp(
    wedges: DataFrame,
    root: int = 0,
    max_iters: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
    metrics: list[DFIterMetrics] | None = None,
    ckpt_interval: int = 1,
) -> DataFrame:
    """Bellman-Ford relaxation to fixpoint, init 1e9 (toolkits/sssp.cpp),
    frontier-restricted: only vertices relaxed last superstep emit
    (sssp.cpp:82-90). wedges: (src, dst, w double). Returns (id, dist)."""
    ew = wedges.groupBy("src", "dst").agg(F.min("w").alias("w")).persist()
    verts = _vertices_of(wedges)
    init = _with_outd(verts, ew).select(
        "id",
        F.when(F.col("id") == root, F.lit(0.0)).otherwise(F.lit(1e9)).alias("val"),
        "outd",
        (F.col("id") == root).alias("changed"),
    )
    out = _min_fixpoint(
        ew, init, F.col("vsrc") + F.col("w"), max_iters, checkpoint, metrics,
        ckpt_interval,
    )
    ew.unpersist()
    return out.select("id", F.col("val").alias("dist"))


def bc_dataframe(
    edges: DataFrame,
    root: int = 0,
    max_levels: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
    metrics: list[DFIterMetrics] | None = None,
    on_phase_state: Callable[[str, int, DataFrame], None] | None = None,
    start: tuple[str, int, DataFrame] | None = None,
) -> DataFrame:
    """Single-source Brandes betweenness with fully distributed state —
    the scale path for |V| beyond driver residency (the chunked
    ``operators.algorithms.bc_engine`` is the fast local path).

    Reference semantics (toolkits/bc.cpp:24-190): forward BFS accumulating
    path counts σ over the edge multiset, inv = 1/σ, backward dependency
    sweep on the transpose (the reference's O(1) ``transpose()``,
    core/graph.hpp:759-768, is here the same collapsed edge table read
    with src/dst swapped), final (dep−inv)/inv per reached vertex, 0
    elsewhere. Both sweeps are frontier-restricted level traversals with
    the |E_active| < |E|/20 broadcast switch (graph.hpp:1508).

    Resumable (the reference's dump/restore works for ANY vertex array,
    graph.hpp:253-306): ``on_phase_state`` fires after every level with
    ("fwd", lv, state(id, outd, ind, depth, sigma, newly)) or
    ("bwd", back, state(id, ind, depth, inv, dep)); ``start`` is the
    matching (phase, level, state_df) triple — level structure is rebuilt
    from the depth column, so the state DF is the entire resume contract.

    Returns (id long, bc double).
    """
    ew = _collapsed(edges).persist()  # (src, dst, cnt) — multiset-preserving
    n_edges = int(ew.agg(F.sum("cnt")).first()[0])
    verts = _vertices_of(edges)
    deg = (
        ew.select(F.col("src").alias("id"), F.col("cnt").alias("o"), F.lit(0).alias("i"))
        .unionByName(
            ew.select(F.col("dst").alias("id"), F.lit(0).alias("o"), F.col("cnt").alias("i"))
        )
        .groupBy("id")
        .agg(F.sum("o").alias("outd"), F.sum("i").alias("ind"))
    )

    # ---- forward: depths + path counts σ (bc.cpp:48-101) ------------------
    if start is not None and start[0] == "bwd":
        lv = 0  # forward phase already snapshotted past; skipped entirely
    elif start is not None and start[0] == "fwd":
        # snapshot at fwd level L: frontier L processed, newly = depth L+1
        state = checkpoint(-1, start[2])
        lv = start[1] + 1
    else:
        state = checkpoint(
            -1,
            verts.join(deg, "id", "left")
            .fillna(0, subset=["outd", "ind"])
            .select(
                "id",
                "outd",
                "ind",
                F.when(F.col("id") == root, F.lit(0)).otherwise(F.lit(-1)).cast("long").alias("depth"),
                F.when(F.col("id") == root, F.lit(1.0)).otherwise(F.lit(0.0)).alias("sigma"),
                (F.col("id") == root).alias("newly"),
            ),
        )
        lv = 0
    if not (start is not None and start[0] == "bwd"):
        for _ in range(max_levels):
            stats = state.agg(
                F.sum(F.col("newly").cast("long")).alias("nc"),
                F.sum(F.when(F.col("newly"), F.col("outd")).otherwise(F.lit(0))).alias("ae"),
            ).first()
            n_new, ae = int(stats["nc"] or 0), int(stats["ae"] or 0)
            if n_new == 0:
                break
            sparse = ae < n_edges / SPARSE_DENOM
            if metrics is not None:
                metrics.append(DFIterMetrics(lv, "sparse" if sparse else "dense", n_new, ae))
            fr = state.where("newly").select(F.col("id").alias("src"), "sigma")
            if sparse and n_new <= BROADCAST_FRONTIER_MAX:
                fr = F.broadcast(fr)
            msgs = (
                ew.join(fr, "src")
                .groupBy("dst")
                .agg(F.sum(F.col("sigma") * F.col("cnt")).alias("m"))
                .withColumnRenamed("dst", "id")
            )
            fresh = (F.col("depth") < 0) & F.col("m").isNotNull()
            state = checkpoint(
                lv,
                state.join(msgs, "id", "left").select(
                    "id",
                    "outd",
                    "ind",
                    F.when(fresh, F.lit(lv + 1)).otherwise(F.col("depth")).alias("depth"),
                    F.when(fresh, F.col("m")).otherwise(F.col("sigma")).alias("sigma"),
                    fresh.alias("newly"),
                ),
            )
            if on_phase_state is not None:
                on_phase_state("fwd", lv, state)
            lv += 1
        else:
            # exhausting max_levels with a live frontier would leave deeper
            # vertices at dep=0 (bc=-1.0) and silently truncate shallower
            # dependencies — unlike bc_engine, which loops to completion
            left = int(state.agg(F.sum(F.col("newly").cast("long"))).first()[0] or 0)
            if left > 0:
                raise RuntimeError(
                    f"bc_dataframe: forward BFS still has an active frontier "
                    f"({left} vertices) after max_levels={max_levels}; raise "
                    f"max_levels"
                )

    # ---- backward: dependency sweep on the transpose (bc.cpp:121-176) -----
    if start is not None and start[0] == "bwd":
        # snapshot at bwd level B: dep at depth==B already updated
        state = checkpoint(-1, start[2])
        maxd = int(state.agg(F.max("depth")).first()[0])
        back0 = start[1] - 1
    else:
        maxd = lv - 1  # deepest populated level (frontier emptied at lv)
        inv = F.when(F.col("depth") >= 0, F.lit(1.0) / F.col("sigma")).otherwise(F.lit(0.0))
        state = checkpoint(
            lv,
            state.select(
                "id",
                "ind",
                "depth",
                inv.alias("inv"),
                F.when(F.col("depth") == maxd, inv).otherwise(F.lit(0.0)).alias("dep"),
            ),
        )
        back0 = maxd - 1
    # per-level frontier sizes in ONE pass (depths are final now)
    lvl = {
        int(r["depth"]): (int(r["nv"]), int(r["ae"]))
        for r in state.where(F.col("depth") >= 0)
        .groupBy("depth")
        .agg(F.count(F.lit(1)).alias("nv"), F.sum("ind").alias("ae"))
        .collect()
    }
    ewt = ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "cnt")
    for back in range(back0, -1, -1):
        nv, ae = lvl.get(back + 1, (0, 0))
        sparse = ae < n_edges / SPARSE_DENOM
        if metrics is not None:
            metrics.append(
                DFIterMetrics(lv + (maxd - back), "sparse" if sparse else "dense", nv, ae)
            )
        fr = state.where(F.col("depth") == back + 1).select(
            F.col("id").alias("src"), "dep"
        )
        if sparse and nv <= BROADCAST_FRONTIER_MAX:
            fr = F.broadcast(fr)
        msgs = (
            ewt.join(fr, "src")
            .groupBy("dst")
            .agg(F.sum(F.col("dep") * F.col("cnt")).alias("m"))
            .withColumnRenamed("dst", "id")
        )
        state = checkpoint(
            lv + (maxd - back),
            state.join(msgs, "id", "left").select(
                "id",
                "ind",
                "depth",
                "inv",
                F.when(
                    F.col("depth") == back,
                    F.col("inv") + F.coalesce(F.col("m"), F.lit(0.0)),
                ).otherwise(F.col("dep")).alias("dep"),
            ),
        )
        if on_phase_state is not None:
            on_phase_state("bwd", back, state)
    ew.unpersist()
    return state.select(
        "id",
        F.when(
            F.col("depth") >= 0, (F.col("dep") - F.col("inv")) / F.col("inv")
        ).otherwise(F.lit(0.0)).alias("bc"),
    )


def bfs_depths(
    edges: DataFrame,
    root: int = 0,
    max_iters: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
    metrics: list[DFIterMetrics] | None = None,
    ckpt_interval: int = 1,
) -> DataFrame:
    """BFS depth from root along directed edges; unreached → -1. Depth is
    the deterministic invariant of the reference's BFS (its parent array is
    CAS-race nondeterministic, toolkits/bfs.cpp:53). Frontier-restricted:
    only newly-reached vertices emit (bfs.cpp:71-92). Returns (id, depth)."""
    big = (1 << 62)
    ew = _collapsed(edges).select("src", "dst").persist()
    verts = _vertices_of(edges)
    init = _with_outd(verts, ew).select(
        "id",
        F.when(F.col("id") == root, F.lit(0)).otherwise(F.lit(big)).cast("long").alias("val"),
        "outd",
        (F.col("id") == root).alias("changed"),
    )
    out = _min_fixpoint(
        ew, init, F.col("vsrc") + F.lit(1), max_iters, checkpoint, metrics,
        ckpt_interval,
    )
    ew.unpersist()
    return out.select(
        "id",
        F.when(F.col("val") >= big, F.lit(-1)).otherwise(F.col("val")).cast("long").alias("depth"),
    )


def k_core(
    edges: DataFrame,
    k: int,
    max_iters: int = 1000,
    checkpoint: Checkpointer = _default_ckpt,
) -> DataFrame:
    """k-core membership by synchronous distributed peeling on the SIMPLE
    undirected graph (distinct pairs, self-loops dropped — the standard
    k-core object): repeatedly remove every vertex whose degree among
    survivors is < k, to fixpoint. Returns (id long, in_core int) over
    ALL vertices of the input edge multiset (a vertex whose only edges
    are self-loops is a vertex of the graph but never of the core).

    Scale shape: the live adjacency SHRINKS monotonically — each round
    semi-joins it to the survivor set on both endpoints (two shuffles of
    the current live edges, not the original graph) and re-aggregates
    degrees; rounds are bounded by the peeling depth (≪ |V| on web
    graphs — degeneracy ordering collapses in tens of rounds). Survivor
    sets are |V|-bounded and join by shuffle (broadcast only if AQE
    elects to); no driver-side state. Early exit compares survivor
    counts — the same action that materializes the round's LAZY
    localCheckpoint (the interval-∞ lazy_chain=False discipline: one job
    per round, lineage truncated every round)."""
    adj = _simple_adj(edges, True)
    verts = _vertices_of(edges)
    ck = _IntervalCkpt(checkpoint, 10**9, lazy_chain=False)

    live = ck.step(-1, adj)
    n_live = live.count()
    ck.materialized()
    for i in range(max_iters):
        alive = (
            live.groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
            .select("v")
        )
        nxt = (
            live.join(alive, "v")
            .join(alive.withColumnRenamed("v", "u"), "u")
            .select("v", "u")
        )
        live = ck.step(i, nxt)
        m = live.count()
        ck.materialized()
        if m == n_live:
            break
        n_live = m
    core = live.select("v").distinct().withColumn("in_core", F.lit(1))
    return (
        verts.join(core.withColumnRenamed("v", "id"), "id", "left")
        .select("id", F.coalesce(F.col("in_core"), F.lit(0)).cast("int").alias("in_core"))
    )


def hits(
    edges: DataFrame,
    iters: int = 10,
    checkpoint: Checkpointer = _default_ckpt,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg '99) on the edge multiset,
    L1-normalized each half-step: auth ← Σ_in hub / ‖·‖₁, hub ← Σ_out
    auth / ‖·‖₁. Parallel edges weight the sums. Returns
    (id long, auth double, hub double).

    Scale shape: each half-step is the SAME single join + sum aggregation
    as a PageRank superstep — once keyed on dst (auth), once on src (hub);
    the L1 norm is one scalar aggregate (an O(|V|) reduce, driver-held
    like PageRank's dangling-mass term). Every half-step state gets a
    LAZY localCheckpoint materialized by its own norm aggregate — one
    job per half-step, lineage truncated every step (the interval-∞
    lazy_chain=False discipline, same as _min_fixpoint's)."""
    if iters < 1:
        raise ValueError(f"hits requires iters >= 1, got {iters}")
    ck = _IntervalCkpt(checkpoint, 10**9, lazy_chain=False)
    ew = _collapsed(edges).persist()
    verts = _vertices_of(edges).persist()
    # checkpointed half-step states have no stats: hint the |V|-bounded
    # join sides explicitly when they fit (guide §3.1), same as pagerank
    n_verts = verts.count()
    small_state = n_verts <= BROADCAST_STATE_MAX

    def hinted(df):
        return F.broadcast(df) if small_state else df

    with _small_graph_scope(
        ew.sparkSession, n_verts, ew.count(), disable_aqe=False
    ):
        hub = verts.select("id", F.lit(1.0).alias("h"))
        auth = None
        for i in range(iters):
            araw = (
                ew.join(hinted(hub.withColumnRenamed("id", "src")), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("h") * F.col("cnt")).alias("a"))
                .withColumnRenamed("dst", "id")
            )
            auth = verts.join(hinted(araw), "id", "left").select(
                "id", F.coalesce(F.col("a"), F.lit(0.0)).alias("a")
            )
            auth = ck.step(2 * i, auth)
            na = auth.agg(F.sum("a")).first()[0] or 0.0
            ck.materialized()
            if na > 0:
                auth = auth.select("id", (F.col("a") / F.lit(na)).alias("a"))
            hraw = (
                ew.join(hinted(auth.withColumnRenamed("id", "dst")), "dst")
                .groupBy("src")
                .agg(F.sum(F.col("a") * F.col("cnt")).alias("h"))
                .withColumnRenamed("src", "id")
            )
            hub = verts.join(hinted(hraw), "id", "left").select(
                "id", F.coalesce(F.col("h"), F.lit(0.0)).alias("h")
            )
            hub = ck.step(2 * i + 1, hub)
            nh = hub.agg(F.sum("h")).first()[0] or 0.0
            ck.materialized()
            if nh > 0:
                hub = hub.select("id", (F.col("h") / F.lit(nh)).alias("h"))
    ew.unpersist()
    out = auth.join(hub, "id").select(
        "id", F.col("a").alias("auth"), F.col("h").alias("hub")
    )
    verts.unpersist()
    return out


def local_clustering(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient over the simple undirected graph:
    lcc(v) = 2·tri(v) / (d(v)·(d(v)−1)), where d is the simple degree
    (distinct neighbors, self-loops dropped) and tri the per-vertex
    triangle count (the A7 degree-ordered intersection). Vertices with
    d < 2 get 0. Returns (id long, lcc double) over ALL vertices of the
    edge multiset.

    Scale shape: the triangle self-join is the dominant cost and is the
    SAME skew-bounded oriented intersection as triangle_count; the rest
    is one distinct + one groupBy + two left joins — no new shuffle
    class beyond A7."""
    verts = _vertices_of(edges)
    und = _simple_und(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tpv = triangles_per_vertex(edges)
    return (
        verts.join(deg, "id", "left")
        .join(tpv, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce(F.col("d"), F.lit(0)) >= 2,
                (F.lit(2.0) * F.coalesce(F.col("n_tri"), F.lit(0)))
                / (F.col("d") * (F.col("d") - F.lit(1))),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    max_rounds: int = 64,
    max_iters: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
) -> DataFrame:
    """Strongly connected components by min-label forward-backward
    coloring (the standard distributed SCC shape — Orzan's coloring /
    FW-BW): returns (id long, scc_id long) with scc_id = the component's
    minimum member id, over all vertices of the directed edge multiset.

    Per outer round, on the still-unassigned subgraph:
      (TRIM) vertices with no in-edges or no out-edges in the remaining
          subgraph are singleton SCCs — peel them iteratively until
          stable (each pass is two cheap semi-joins, no fixpoint; this
          retires entire tendril chains before the expensive phases, the
          standard FW-BW trim);
      (A) color(v) = min id that reaches v (incl. itself) — forward
          min-label propagation to fixpoint;
      (B) from every color-class root r (color(r) = r; exactly one per
          class), propagate r BACKWARD along edges whose two endpoints share
          the color; a vertex v is reached iff v reaches r within its
          class. Then SCC(r) = {v : color(v) = r and v reached r}: if
          color(v) = r and v→r, every vertex w on any v→r path has
          color r (w < r would put w, which is mutually reachable with
          r through the path and phase-A's r→v prefix, into r's SCC with
          a smaller id — contradicting color(r) = r), so the backward
          same-color propagation finds exactly the mutual set.
    Assign those, drop them from the subgraph, repeat — every round
    retires at least each class's root SCC, so rounds are bounded by the
    longest root-chain of the SCC DAG (shallow on web-shaped graphs:
    giant SCC + tendrils).

    Both phases ARE _min_fixpoint, so the reference's sparse/dense
    mode rule, broadcast cap and per-superstep lineage discipline apply
    unchanged. Driver state: one count per round — no vertex or edge
    data is ever collected."""
    big = 1 << 62
    rv = _vertices_of(edges).localCheckpoint()
    re_ = edges.select("src", "dst").distinct().localCheckpoint()
    assigned = None
    n_rem = rv.count()
    for _ in range(max_rounds):
        if n_rem == 0:
            break
        # TRIM until stable: anything missing an in- or out-edge in the
        # remaining subgraph cannot be in a (≥2)-cycle — it is its own SCC
        while True:
            # lazy localCheckpoints: the count() materializes keep (one
            # job per trim pass); singles/re_ materialize on first use,
            # off stable (checkpointed) inputs
            keep = (
                rv.join(
                    re_.select(F.col("src").alias("id")).distinct(), "id", "semi"
                ).join(
                    re_.select(F.col("dst").alias("id")).distinct(), "id", "semi"
                )
            ).localCheckpoint(eager=False)
            n_keep = keep.count()
            if n_keep == n_rem:
                break
            singles = rv.join(keep, "id", "left_anti").select(
                "id", F.col("id").alias("scc_id")
            ).localCheckpoint(eager=False)
            assigned = (
                singles if assigned is None else assigned.unionByName(singles)
            )
            rv = keep
            re_ = (
                re_.join(rv.withColumnRenamed("id", "src"), "src", "semi")
                .join(rv.withColumnRenamed("id", "dst"), "dst", "semi")
                .localCheckpoint(eager=False)
            )
            n_rem = n_keep
        if n_rem == 0:
            break
        re_p = re_.persist()
        init_a = _with_outd(rv, re_p).select(
            "id", F.col("id").alias("val"), "outd", F.lit(True).alias("changed")
        )
        colors = (
            _min_fixpoint(re_p, init_a, F.col("vsrc"), max_iters, checkpoint)
            .withColumnRenamed("val", "color")
            .persist()
        )
        same_rev = (
            re_p.join(
                colors.select(F.col("id").alias("src"), F.col("color").alias("c1")),
                "src",
            )
            .join(
                colors.select(F.col("id").alias("dst"), F.col("color").alias("c2")),
                "dst",
            )
            .where(F.col("c1") == F.col("c2"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            .persist()
        )
        init_b = (
            _with_outd(colors.select("id"), same_rev)
            .join(colors, "id")
            .select(
                "id",
                F.when(F.col("color") == F.col("id"), F.col("id"))
                .otherwise(F.lit(big))
                .alias("val"),
                "outd",
                (F.col("color") == F.col("id")).alias("changed"),
            )
        )
        reached = _min_fixpoint(
            same_rev, init_b, F.col("vsrc"), max_iters, checkpoint
        )
        scc = (
            reached.join(colors, "id")
            .where(F.col("val") == F.col("color"))
            .select("id", F.col("color").alias("scc_id"))
            .localCheckpoint()
        )
        assigned = scc if assigned is None else assigned.unionByName(scc)
        rv = rv.join(scc.select("id"), "id", "left_anti").localCheckpoint()
        re_ = (
            re_p.join(scc.select(F.col("id").alias("src")), "src", "left_anti")
            .join(scc.select(F.col("id").alias("dst")), "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint()
        )
        re_p.unpersist()
        same_rev.unpersist()
        colors.unpersist()
        n_rem = rv.count()
    # check the REMAINDER, not loop exhaustion (ADVICE r6): a
    # decomposition finishing exactly on round max_rounds is complete,
    # and for/else would have mis-raised on it
    if n_rem > 0:
        raise RuntimeError(
            f"strongly_connected_components: {n_rem} vertices still "
            f"unassigned after max_rounds={max_rounds} (an SCC-DAG root "
            "chain deeper than the bound); raise max_rounds."
        )
    if assigned is None:  # empty edge input: no vertices, empty result
        spark = edges.sparkSession
        return spark.createDataFrame([], "id long, scc_id long")
    return assigned


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Web-graph degree distribution: one row per out-degree value with
    the number of vertices at that degree (multiset degrees, 0 included
    for sink-only vertices). Returns (out_degree long, n_vertices long).
    Two shuffles (per-vertex degree, then per-degree count) — the
    power-law sanity check every crawl analysis starts with."""
    return (
        degrees(edges)
        .groupBy("out_degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def coreness(
    edges: DataFrame,
    max_iters: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
) -> DataFrame:
    """Full core decomposition: coreness(v) = the largest k such that v
    belongs to the k-core of the SIMPLE undirected graph (distinct
    pairs, self-loops dropped — the same graph object as ``k_core``).
    Returns (id long, coreness int) over ALL vertices of the input edge
    multiset; isolated / self-loop-only vertices get 0.

    Algorithm: distributed h-index fixpoint (Montresor et al.,
    "Distributed k-Core Decomposition", and Lü et al.'s H-operator):
    init c(v) = simple degree, iterate c(v) ← H({c(u) : u ∈ N(v)})
    where H is the h-index — the largest h with ≥ h neighbor values
    ≥ h. The sequence is monotone non-increasing (H over a vertex's
    neighbors can never exceed its degree, and H is monotone in its
    inputs) and its fixpoint is exactly the core number.

    Scale shape: FRONTIER-RESTRICTED like every fixpoint here — a
    vertex's h-index can only move when a neighbor's value dropped, so
    each iteration recomputes H only for vertices with a changed
    in-neighbor (semi-join of the static adjacency against last round's
    changed set), over their FULL neighbor lists; everyone else keeps
    their value by a left-join coalesce. The per-vertex desc-sort
    window (row_number) is O(d log d) on the touched subgraph only —
    after the first few rounds that is a small fraction of |E| (the
    same tail collapse the LP trace evidences). High-degree skew in the
    window partition is the usual neighborhood-operator hot spot (AQE
    territory). The changed-count aggregate doubles as the early exit
    and the lazy-localCheckpoint materializer."""
    adj = _simple_adj(edges, True).persist()
    verts = _vertices_of(edges)
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    cur = verts.join(deg.withColumnRenamed("v", "id"), "id", "left").select(
        "id", F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("c")
    )
    ck = _IntervalCkpt(checkpoint, 10**9, lazy_chain=False)
    cur = ck.step(-1, cur)
    cur.count()
    ck.materialized()
    changed = cur.select(F.col("id").alias("u"))  # round 0: everyone
    w = Window.partitionBy("v").orderBy(F.col("cu").desc())
    for i in range(max_iters):
        touched = adj.join(changed, "u").select("v").distinct()
        nb = adj.join(touched, "v").join(
            cur.select(F.col("id").alias("u"), F.col("c").alias("cu")), "u"
        )
        h = (
            nb.select("v", "cu", F.row_number().over(w).alias("rn"))
            .groupBy("v")
            .agg(F.max(F.least(F.col("rn"), F.col("cu"))).alias("h"))
        )
        nxt = cur.join(h.withColumnRenamed("v", "id"), "id", "left").select(
            "id",
            F.coalesce(F.col("h"), F.col("c")).cast("long").alias("c"),
            (F.col("h") < F.col("c")).alias("dropped"),
        )
        nxt = ck.step(i, nxt)
        n_changed = nxt.where(F.col("dropped")).count()
        ck.materialized()
        cur = nxt.select("id", "c")
        if n_changed == 0:
            break
        changed = nxt.where(F.col("dropped")).select(F.col("id").alias("u"))
    adj.unpersist()
    return cur.select("id", F.col("c").cast("int").alias("coreness"))


def _simple_und(edges: DataFrame) -> DataFrame:
    """The simple undirected graph: distinct (a, b) pairs with a < b,
    self-loops dropped."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )


def _simple_adj(edges: DataFrame, undirected: bool) -> DataFrame:
    """Deduplicated adjacency (v, u): symmetrized distinct simple pairs
    when undirected (self-loops dropped), distinct directed pairs
    otherwise (self-loops kept — they never change a BFS depth)."""
    if undirected:
        und = _simple_und(edges)
        return und.select(
            F.col("a").alias("v"), F.col("b").alias("u")
        ).unionByName(und.select(F.col("b").alias("v"), F.col("a").alias("u")))
    return edges.select(
        F.col("src").alias("v"), F.col("dst").alias("u")
    ).distinct()


@contextmanager
def _parquet_spill(spark, spill_dir: str | None, prefix: str):
    """Yield ``spill(df, name)``: write ``df`` as parquet under the spill
    dir and read it back — a fresh plan root per round for the peeling
    kernels (see ``k_truss``). Without a caller's ``spill_dir`` the
    kernel gets a temp dir, removed on exit."""
    tmp = spill_dir or tempfile.mkdtemp(prefix=prefix)

    def spill(df: DataFrame, name: str) -> DataFrame:
        p = os.path.join(tmp, name)
        df.write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    try:
        yield spill
    finally:
        if spill_dir is None:
            shutil.rmtree(tmp, ignore_errors=True)


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    undirected: bool = True,
    max_iters: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
) -> DataFrame:
    """Multi-source BFS: exact hop distance from every seed to every
    vertex it reaches. ``seeds`` is a DataFrame with column ``id``.
    Returns (id long, seed long, depth long) for REACHED pairs only —
    the state is output-sensitive (≤ |S|·|V| rows, exactly the reached
    pairs), not a dense |S|×|V| matrix. The workhorse under sampled
    closeness/harmonic centrality and pseudo-diameter estimation
    (the standard landmark/sketch shape: Eppstein-Wang, HyperANF's
    exact-sample baseline).

    Scale shape: per level one join of the CURRENT frontier (newly
    reached (vertex, seed) pairs) against the static deduplicated
    adjacency, one distinct, one anti-join against the visited set —
    all hash-partitioned on vertex; no driver state beyond the
    per-level row count that doubles as the early-exit test and the
    lazy-localCheckpoint materializer. Levels are bounded by the
    graph's (directed) eccentricity from the seed set, not max_iters.
    A frontier row fans out once per level and dies — total traffic is
    O(Σ_s |E reachable from s|), the MS-BFS bound (bitset-packed
    engine variants shave the constant, not the asymptote)."""
    adj = _simple_adj(edges, undirected).persist()
    ck = _IntervalCkpt(checkpoint, 10**9, lazy_chain=False)
    visited = seeds.select(
        F.col("id").alias("v"), F.col("id").alias("s"), F.lit(0).cast("long").alias("d")
    )
    visited = ck.step(-1, visited)
    visited.count()
    ck.materialized()
    frontier = visited.select("v", "s")
    for i in range(max_iters):
        cand = (
            adj.join(frontier, "v")
            .select(F.col("u").alias("v"), "s")
            .distinct()
        )
        new = cand.join(visited.select("v", "s"), ["v", "s"], "left_anti").select(
            "v", "s", F.lit(i + 1).cast("long").alias("d")
        )
        new = ck.step(2 * i, new)
        n_new = new.count()
        ck.materialized()
        if n_new == 0:
            break
        visited = ck.step(2 * i + 1, visited.unionByName(new))
        visited.count()
        ck.materialized()
        frontier = new.select("v", "s")
    adj.unpersist()
    return visited.select(
        F.col("v").alias("id"), F.col("s").alias("seed"), F.col("d").alias("depth")
    )


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    undirected: bool = True,
    max_iters: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
) -> DataFrame:
    """Sampled harmonic centrality: H(v) = Σ_{s ∈ seeds, d(s,v) > 0}
    1/d(s,v) over the reached pairs of ``multi_source_bfs`` (the
    Eppstein-Wang / landmark estimator — exact when seeds = V).
    Unreached vertices score 0. Returns (id long, harmonic double)
    over ALL vertices of the edge multiset. One groupBy over the
    reached-pair table + one left join — the BFS dominates."""
    ms = multi_source_bfs(edges, seeds, undirected, max_iters, checkpoint)
    verts = _vertices_of(edges)
    h = (
        ms.where(F.col("depth") > 0)
        .groupBy("id")
        .agg(F.sum(F.lit(1.0) / F.col("depth")).alias("h"))
    )
    return verts.join(h, "id", "left").select(
        "id", F.coalesce(F.col("h"), F.lit(0.0)).alias("harmonic")
    )


def eccentricity(
    edges: DataFrame,
    seeds: DataFrame,
    undirected: bool = True,
    max_iters: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
) -> DataFrame:
    """Per-seed eccentricity within its reachable set: ecc(s) =
    max_{v reached} d(s, v). max over seeds is the standard BFS
    pseudo-diameter lower bound (iGraph/NetworkX convention). Returns
    (id long, ecc long) — one row per seed. One max-aggregate over the
    multi_source_bfs reached-pair table."""
    ms = multi_source_bfs(edges, seeds, undirected, max_iters, checkpoint)
    return ms.groupBy("seed").agg(F.max("depth").alias("ecc")).select(
        F.col("seed").alias("id"), F.col("ecc").cast("long").alias("ecc")
    )


#: deterministic walk-step mix constants — shared verbatim by the DuckDB
#: oracle (sql_oracles.random_walks_sql) and the numpy reference
#: (oracle_numpy.random_walks_ref). All operands are reduced below 2^21
#: before multiplying, so every intermediate fits comfortably in int64 in
#: all three engines (no overflow divergence even at 10^12-vertex ids).
WALK_VMOD = 1000003
WALK_VMUL = 69069
WALK_SMUL = 40503
WALK_WMUL = 12345
WALK_ADD = 7


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    length: int = 8,
    walks_per_seed: int = 1,
    checkpoint: Checkpointer = _default_ckpt,
) -> DataFrame:
    """Deterministic random walks over the directed simple graph
    (distinct (src, dst) pairs, neighbor order = dst ascending) — the
    sampling primitive under DeepWalk/node2vec-style embedding
    pipelines, made exactly reproducible: step t of walk w from seed s
    moves from vertex v to its neighbor of rank
    ((v % WALK_VMOD)·WALK_VMUL + t·WALK_SMUL + w·WALK_WMUL + WALK_ADD)
    mod outdeg(v). A walk reaching a dangling vertex (no out-edges)
    ends there. ``seeds`` has column ``id``. Returns
    (seed long, walk long, step long, vertex long) — step 0 is the seed
    itself; one row per visited position.

    Scale shape: the ranked adjacency (per-src neighbor rank by one
    window over dst) is built ONCE and reused every step; each step is
    two hash joins keyed on the current vertex (degree lookup + ranked
    neighbor lookup) over |S|·walks_per_seed rows — walk state never
    touches the driver, and steps are bounded by ``length``, not a
    fixpoint. Per-step lineage truncation via the lazy-localCheckpoint
    discipline."""
    de = edges.select("src", "dst").distinct()
    rnw = Window.partitionBy("src").orderBy("dst")
    ranked = de.select(
        "src", "dst", (F.row_number().over(rnw) - 1).alias("rn")
    ).persist()
    deg = ranked.groupBy("src").agg(F.count(F.lit(1)).alias("outd"))
    ck = _IntervalCkpt(checkpoint, 10**9, lazy_chain=False)
    state = seeds.select(
        F.col("id").alias("seed"),
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_seed - 1))
        ).alias("walk"),
        F.col("id").alias("vertex"),
    ).withColumn("walk", F.col("walk").cast("long"))
    out = state.select(
        "seed", "walk", F.lit(0).cast("long").alias("step"), "vertex"
    )
    out = ck.step(-1, out)
    out.count()
    ck.materialized()
    state = out.select("seed", "walk", "vertex")
    for t in range(1, length + 1):
        cur = state.join(
            deg.withColumnRenamed("src", "vertex"), "vertex"
        ).select(
            "seed",
            "walk",
            F.col("vertex").alias("cur"),
            (
                (
                    (F.col("vertex") % WALK_VMOD) * WALK_VMUL
                    + F.lit(t * WALK_SMUL)
                    + F.col("walk") * WALK_WMUL
                    + F.lit(WALK_ADD)
                )
                % F.col("outd")
            ).alias("idx"),
        )
        stepdf = cur.join(
            ranked,
            (cur["cur"] == ranked["src"]) & (cur["idx"] == ranked["rn"]),
        ).select(
            "seed",
            "walk",
            F.lit(t).cast("long").alias("step"),
            F.col("dst").alias("vertex"),
        )
        stepdf = ck.step(t, stepdf)
        n = stepdf.count()
        ck.materialized()
        if n == 0:
            break
        out = out.unionByName(stepdf)
        state = stepdf.select("seed", "walk", "vertex")
    ranked.unpersist()
    return out


#: deterministic MIS priority: p(v) = ((v % MIS_VMOD)·MIS_VMUL + MIS_ADD)
#: % MIS_PMOD, ties broken by vertex id — shared verbatim by the DuckDB
#: oracle and the numpy reference (all intermediates < 2^47: id-scale
#: safe).
MIS_VMOD = 1000003
MIS_VMUL = 69069
MIS_ADD = 12345
MIS_PMOD = 999983


def maximal_independent_set(
    edges: DataFrame,
    max_iters: int = 100,
    spill_dir: str | None = None,
) -> DataFrame:
    """Maximal independent set on the SIMPLE undirected graph (distinct
    pairs, self-loops dropped — isolated / self-loop-only vertices are
    trivially in the set), by Luby's algorithm made deterministic: per
    round every still-live vertex whose (priority, id) is a strict local
    minimum among live neighbors joins the set; it and its neighbors
    leave the live graph. Priority = the fixed hash above, so the result
    is exactly reproducible (and oracle-checkable) while keeping Luby's
    O(log |V|) expected round bound — the hash is uniform enough that
    the classic analysis applies per round. Returns (id long,
    in_mis int) over ALL vertices of the edge multiset.

    Scale shape: like ``k_core``, the live adjacency SHRINKS
    monotonically — each round is one join (ship priorities), one
    local-minimum anti-join, one neighbor semi-join to retire losers;
    all shuffles are over the CURRENT live edges. State discipline:
    per-round parquet spill of (live, mis) — this kernel's plan
    references the live set ~6 times per round, the same fan-out that
    made ``k_truss``'s per-round Catalyst cost creep 4-5×/round past
    round 10 under localCheckpoint (measured; see k_truss docstring),
    and Luby at crawl scale runs ~25-30 rounds — squarely inside the
    creep regime. The spill is the size of the shrinking live set and
    doubles as a free per-round resume point."""
    verts = _vertices_of(edges)

    def pri(c):
        return ((c % MIS_VMOD) * MIS_VMUL + MIS_ADD) % MIS_PMOD

    with _parquet_spill(edges.sparkSession, spill_dir, "gemini_mis_") as spill:
        adj = spill(_simple_adj(edges, True), "adj")
        live = spill(adj, "live_-1")
        n_live = live.count()
        # vertices with no simple edge at all are independent by vacuity
        mis = verts.join(
            adj.select(F.col("v").alias("id")).distinct(), "id", "left_anti"
        ).select("id")
        mis = spill(mis, "mis_-1")
        i = 0
        while n_live > 0 and i < max_iters:
            # a live vertex wins iff NO live neighbor has a smaller
            # (priority, id) key — expressed as an anti-join against the
            # "has a better neighbor" set (identical shape in the SQL twin)
            better = (
                live.where(
                    (pri(F.col("u")) < pri(F.col("v")))
                    | (
                        (pri(F.col("u")) == pri(F.col("v")))
                        & (F.col("u") < F.col("v"))
                    )
                )
                .select("v")
                .distinct()
            )
            lverts = live.select("v").distinct()
            winners = lverts.join(better, "v", "left_anti")
            mis_add = winners.select(F.col("v").alias("id"))
            retired = winners.unionByName(
                live.join(
                    winners.withColumnRenamed("v", "w"), F.col("v") == F.col("w")
                ).select(F.col("u").alias("v"))
            ).distinct()
            nxt = (
                live.join(retired, "v", "left_anti")
                .join(retired.withColumnRenamed("v", "u"), "u", "left_anti")
            )
            nxt = spill(nxt, f"live_{i}")
            n_live = nxt.count()
            # vertices that lost all live neighbors without being retired
            # re-enter as isolated next round and win by vacuity
            still = nxt.select("v").distinct()
            orphans = (
                lverts.join(retired, "v", "left_anti")
                .join(still, "v", "left_anti")
            )
            mis = spill(
                mis.unionByName(mis_add).unionByName(
                    orphans.select(F.col("v").alias("id"))
                ),
                f"mis_{i}",
            )
            live = nxt
            i += 1
        if n_live > 0:
            # mirror the DuckDB twin's fixpoint guard (ADVICE r6): a
            # truncated run would silently return a NON-maximal set
            raise RuntimeError(
                f"maximal_independent_set: {n_live} live edges remain "
                f"after max_iters={max_iters}; raise max_iters."
            )
        flag = mis.distinct().withColumn("in_mis", F.lit(1))
        out = verts.join(flag, "id", "left").select(
            "id", F.coalesce(F.col("in_mis"), F.lit(0)).cast("int").alias("in_mis")
        )
        return out.localCheckpoint(eager=True)


def neighborhood_function(
    edges: DataFrame,
    seeds: DataFrame,
    undirected: bool = True,
    max_iters: int = 200,
    checkpoint: Checkpointer = _default_ckpt,
) -> DataFrame:
    """Sampled neighborhood function N(h) = #(seed, vertex) pairs within
    hop distance h, from the ``multi_source_bfs`` reached-pair table —
    the exact-sample baseline of HyperANF (Boldi-Rosa-Vigna; exact when
    seeds = V, |S|-sampled estimator otherwise). Returns one row per
    occupied depth: (h long, n_pairs long, frac_ppm long) with frac =
    N(h)/N(∞) ppm-rounded — the curve whose 0.9-crossing is the
    standard "effective diameter (sampled)" readout.

    Scale shape: one count-by-depth aggregation over the reached-pair
    table plus a cumulative window over ≤ diameter rows (a
    single-partition window over a handful of rows — the per-depth
    counts, not the pairs). The BFS dominates."""
    ms = multi_source_bfs(edges, seeds, undirected, max_iters, checkpoint)
    per = ms.groupBy("depth").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        F.col("depth").alias("h"), F.sum("c").over(w).alias("n_pairs")
    )
    total = ms.count()
    return cum.select(
        "h",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.round(F.col("n_pairs") * 1000000.0 / F.lit(float(total)))
        .cast("long")
        .alias("frac_ppm"),
    )


def cocitation_topk(
    edges: DataFrame,
    k: int = 5,
    hub_cap: int | None = None,
) -> DataFrame:
    """Co-citation similarity ("related pages"): two vertices are similar
    when many common SOURCES link to both (Small '73 co-citation; the
    classic related-page signal on a web graph). For every vertex with at
    least one co-cited partner, the top-``k`` partners by common-source
    count, ties broken by smaller neighbor id. Returns
    (id long, neighbor long, common long, rnk int).

    ``hub_cap``: drop source vertices whose out-degree exceeds the cap
    before pairing (None = keep all — the gate setting). A directory hub
    linking m pages contributes m² co-citation pairs; on a real crawl the
    cap (or a TF-IDF-style down-weighting) is what keeps the wedge join
    bounded — the same super-hub discipline as the triangle kernel's
    orientation, here made an explicit knob because co-citation has no
    orientation trick: the hub's wedges are the signal being counted.

    Scale shape: one self-join of the deduplicated edge list keyed on
    src (the wedge join — output Σ_src d_out(src)², the quantity
    hub_cap bounds), one pair-count aggregation, one per-vertex top-k
    window. All shuffles keyed on src / the pair / the vertex."""
    de = edges.select("src", "dst").distinct()
    if hub_cap is not None:
        ok = (
            de.groupBy("src")
            .agg(F.count(F.lit(1)).alias("outd"))
            .where(F.col("outd") <= hub_cap)
            .select("src")
        )
        de = de.join(ok, "src")
    a = de.select("src", F.col("dst").alias("u"))
    b = de.select("src", F.col("dst").alias("v"))
    pairs = (
        a.join(b, "src")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sym = pairs.select("u", "v", "common").unionByName(
        pairs.select(
            F.col("v").alias("u"), F.col("u").alias("v"), "common"
        )
    )
    w = Window.partitionBy("u").orderBy(F.col("common").desc(), F.col("v").asc())
    return (
        sym.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            F.col("u").alias("id"),
            F.col("v").alias("neighbor"),
            F.col("common").cast("long").alias("common"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


def k_truss(
    edges: DataFrame,
    k: int,
    max_iters: int = 1000,
    spill_dir: str | None = None,
) -> DataFrame:
    """k-truss of the SIMPLE undirected graph: the maximal subgraph in
    which every edge lies in at least k-2 triangles (Cohen '08) —
    edge-level cohesion, the community-core complement of ``k_core``'s
    vertex-level peel. Synchronous peeling: per round count each live
    edge's support (triangles among live edges) and drop edges below
    k-2, to fixpoint. Returns the surviving edge set as
    (a long, b long) with a < b.

    State discipline — WHY THIS KERNEL SPILLS TO PARQUET instead of the
    localCheckpoint lineage truncation every other kernel here uses:
    each round's plan references the live edge set ~6 times (adjacency
    both directions, wedge, closure, the left join), and under that
    fan-out the per-round Catalyst cost CREEPS even with an eager
    localCheckpoint every round — measured on the sf0.01 gate graph,
    optimize+exec per round was flat until round ~10 and then grew
    ~4-5× per round (0.6 s → 2.4 → 9.6 → 38: driver-side planning over
    state the checkpoint preserves, not data — data was 430 rows in 1
    partition). Writing the live set to parquet and re-reading gives a
    guaranteed-fresh plan root and flat 0.5 s rounds (full 15-round
    peel: 11 s). At crawl scale the spill is the size of the SHRINKING
    live edge set once per round — the standard discipline for
    iterative edge-peeling, and it doubles as a free per-round resume
    point.

    Scale shape: support counting is one two-hop wedge join per round
    (live pairs ⋈ live adjacency on one endpoint, closed on the other —
    the same join class as A7's triangle count), and the live edge set
    shrinks monotonically, so rounds get cheaper as the peel deepens;
    rounds are bounded by the peeling depth. Early exit compares
    live-edge counts."""
    if k < 2:
        raise ValueError("k_truss requires k >= 2")
    with _parquet_spill(edges.sparkSession, spill_dir, "gemini_truss_") as spill:
        live = spill(_simple_und(edges), "live_-1")
        n_live = live.count()
        need = k - 2
        for i in range(max_iters):
            if n_live == 0:
                break
            adj = live.select(
                F.col("a").alias("x"), F.col("b").alias("y")
            ).unionByName(live.select(F.col("b").alias("x"), F.col("a").alias("y")))
            wed = live.join(
                adj.select(F.col("x").alias("a"), F.col("y").alias("w")), "a"
            ).where(F.col("w") != F.col("b"))
            closed = wed.join(
                adj.select(F.col("x").alias("b"), F.col("y").alias("w")),
                ["b", "w"],
            )
            sup = closed.groupBy("a", "b").agg(F.count(F.lit(1)).alias("s"))
            nxt = (
                live.join(sup, ["a", "b"], "left")
                .where(F.coalesce(F.col("s"), F.lit(0)) >= need)
                .select("a", "b")
            )
            live = spill(nxt, f"live_{i}")
            m = live.count()
            if m == n_live:
                break
            n_live = m
        out = live.select(
            F.col("a").cast("long").alias("a"), F.col("b").cast("long").alias("b")
        )
        # materialize before the spill dir disappears
        return out.localCheckpoint(eager=True)
