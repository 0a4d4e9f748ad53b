"""Algorithm kernels on the chunked engine (the bench/fast path).

Same recurrences as functions/graph_algos.py (parity-tested against the
numpy oracle and each other), executed as one shuffle-free Spark stage per
superstep with driver-resident numpy state. Frontier bookkeeping follows
the reference apps: PageRank is full-frontier every iteration (always
dense — toolkits/pagerank.cpp:47 with graph.hpp:1508), CC/SSSP/BFS shrink
their frontier to the vertices whose value changed (cc.cpp:39-83,
sssp.cpp:82-90, bfs.cpp:71-92) and the engine's |E_active|<|E|/20 rule
flips them to push mode in the tail iterations.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from .chunked_graph import ChunkedGraph
from .engine import VertexEngine

StateHook = Callable[[int, np.ndarray], None]


def pagerank_engine(
    graph: ChunkedGraph,
    iters: int = 20,
    d: float = 0.85,
    on_state: StateHook | None = None,
    start: np.ndarray | None = None,
    start_iter: int = 0,
    redistribute_dangling: bool = False,
    teleport: np.ndarray | None = None,
) -> tuple[np.ndarray, VertexEngine]:
    """Reference recurrence (pagerank.cpp:24-99): pre-divided state,
    undivided final iteration, dangling mass dropped by default;
    ``redistribute_dangling=True`` spreads Σ_{dangling} rank / |V| to
    every vertex instead (textbook power iteration) — the mass sum is a
    free numpy reduction on the driver-resident state.

    ``teleport`` (a seed mask over vertices; None = every vertex) makes
    it personalized PageRank: r ← (1-d)·1[v∈S] + d·Σ_in, starting from
    the seed indicator (mass |S|). Always dense / full frontier: mass
    spreads from the whole state each superstep.

    Resume contract: snapshots hold the PRE-DIVIDED state except the
    final iteration's, which is the undivided result (the reference's
    asymmetric last step). Resuming is therefore valid only toward the
    SAME ``iters`` target the snapshots were written under — extending a
    completed run re-feeds the undivided state and is wrong."""
    eng = VertexEngine(graph)
    outd = graph.out_degree.astype(np.float64)
    nz = outd > 0
    tele = 1.0 if teleport is None else teleport.astype(np.float64)
    if start is not None:
        curr = start.astype(np.float64).copy()
    else:
        curr = np.ones(graph.n_vertices, dtype=np.float64) * tele
        curr[nz] /= outd[nz]
    for i in range(start_iter, iters):
        dm = float(curr[~nz].sum()) if redistribute_dangling else 0.0
        ids, vals = eng.edge_aggregate(curr, "sum", iteration=i)
        nxt = np.zeros(graph.n_vertices, dtype=np.float64)
        nxt[ids] = vals
        nxt = (1.0 - d) * tele + d * (nxt + dm / graph.n_vertices)
        if i != iters - 1:
            nxt[nz] /= outd[nz]
        curr = nxt
        if on_state is not None:
            on_state(i, curr)
    return curr, eng


def cc_engine(
    sym_graph: ChunkedGraph,
    on_state: StateHook | None = None,
    max_iters: int = 10**6,
    start: np.ndarray | None = None,
    start_iter: int = 0,
    start_frontier: np.ndarray | None = None,
) -> tuple[np.ndarray, VertexEngine]:
    """HashMin to fixpoint on a symmetrized graph (cc.cpp:22-109).

    ``start``/``start_iter`` resume from a snapshotted label array; the
    default resume frontier is the safe over-approximation "everyone"
    (one dense sweep — min combiner, so extra messages cannot change the
    fixpoint). ``start_frontier`` narrows it for WARM STARTS on an
    appended graph (VERDICT r4 #8): when ``start`` is the fixpoint of the
    pre-append graph, only the appended edges' endpoints and the new
    vertices can introduce new information, so seeding just those
    converges to the identical fixpoint in a few supersteps instead of
    from scratch (labels are min-member ids, and the min over a merged
    component of old min-ids IS the global min id — warm HashMin is
    exact)."""
    eng = VertexEngine(sym_graph)
    n = sym_graph.n_vertices
    # int32 labels whenever they fit: halves the bytes through the
    # bandwidth-bound min-combiner hot loop (labels are vertex ids < n)
    ldt = np.int32 if n < 2**31 else np.int64
    label = (
        start.astype(ldt).copy()
        if start is not None
        else np.arange(n, dtype=ldt)
    )
    frontier = (
        start_frontier.astype(bool).copy()
        if start_frontier is not None
        else np.ones(n, dtype=bool)
    )
    i = start_iter
    while frontier.any() and i < max_iters:
        ids, vals = eng.edge_aggregate(label, "min", frontier=frontier, iteration=i)
        changed_m = vals < label[ids]
        frontier = np.zeros(n, dtype=bool)
        frontier[ids[changed_m]] = True
        label[ids[changed_m]] = vals[changed_m]
        if on_state is not None:
            on_state(i, label)
        i += 1
    return label, eng


def lp_engine(
    sym_graph: ChunkedGraph,
    iters: int = 10,
    on_state: StateHook | None = None,
    start: np.ndarray | None = None,
    start_iter: int = 0,
    start_frontier: np.ndarray | None = None,
) -> tuple[np.ndarray, VertexEngine]:
    """Mode-combiner label propagation (SURVEY §2.3 A6), synchronized and
    frontier-restricted (VERDICT r3 #2): a vertex's mode can only change
    if ≥1 in-neighbor's label changed, so once the frontier is sparse by
    the /20 rule only dsts touched by it are recomputed (over ALL their
    in-edges — engine.edge_aggregate affected_only). Early supersteps stay
    full dense sweeps; on a converging graph the tail supersteps shrink to
    the still-churning region. Converged (empty frontier) ⇒ early exit:
    identical labels, remaining synchronous steps are no-ops.

    ``start``/``start_iter`` resume a snapshotted label array; the
    default resume frontier is the safe over-approximation "everyone"
    (one full sweep recomputes every mode from the unchanged multisets —
    identical labels for vertices that were settled). ``start_frontier``
    narrows it for WARM STARTS (VERDICT r4 #8): valid when ``start`` is
    a FIXPOINT of the pre-append graph — then only vertices whose
    in-edge multiset changed (appended-edge endpoints, new vertices) can
    flip in the first sweep, so seeding exactly those is equivalent to
    the full resume sweep (pinned by
    test_lp_warm_start_restricted_equals_full)."""
    eng = VertexEngine(sym_graph)
    n = sym_graph.n_vertices
    label = (
        start.astype(np.int64).copy()
        if start is not None
        else np.arange(n, dtype=np.int64)
    )
    frontier = (
        start_frontier.astype(bool).copy()
        if start_frontier is not None
        else np.ones(n, dtype=bool)
    )
    for i in range(start_iter, iters):
        if not frontier.any():
            break
        ids, vals = eng.edge_aggregate(
            label, "mode", frontier=frontier, iteration=i, affected_only=True
        )
        changed_m = vals != label[ids]
        nxt = label.copy()
        nxt[ids] = vals
        label = nxt
        frontier = np.zeros(n, dtype=bool)
        frontier[ids[changed_m]] = True
        if on_state is not None:
            on_state(i, label)
    return label, eng


def sssp_engine(
    wgraph: ChunkedGraph,
    root: int = 0,
    on_state: StateHook | None = None,
    start: np.ndarray | None = None,
    start_iter: int = 0,
) -> tuple[np.ndarray, VertexEngine]:
    """Bellman-Ford frontier relaxation (sssp.cpp:24-127), init 1e9.
    Resume: seed ``start`` distances; the frontier re-arms every settled
    vertex (safe over-approximation for the min combiner)."""
    eng = VertexEngine(wgraph)
    n = wgraph.n_vertices
    if start is not None:
        dist = start.astype(np.float64).copy()
        frontier = dist < 1e9
    else:
        dist = np.full(n, 1e9, dtype=np.float64)
        dist[root] = 0.0
        frontier = np.zeros(n, dtype=bool)
        frontier[root] = True
    i = start_iter
    while frontier.any():
        ids, vals = eng.edge_aggregate(
            dist, "min", msg_offset="w", frontier=frontier, iteration=i
        )
        relaxed = vals < dist[ids]
        frontier = np.zeros(n, dtype=bool)
        frontier[ids[relaxed]] = True
        dist[ids[relaxed]] = vals[relaxed]
        if on_state is not None:
            on_state(i, dist)
        i += 1
    return dist, eng


#: hook for two-phase kernels: (phase "fwd"|"bwd", level, named arrays)
BCStateHook = Callable[[str, int, dict], None]


def bc_engine(
    graph: ChunkedGraph,
    graph_t: ChunkedGraph,
    root: int = 0,
    on_state: BCStateHook | None = None,
    start: tuple[str, int, dict] | None = None,
) -> tuple[np.ndarray, VertexEngine]:
    """Single-source Brandes betweenness (toolkits/bc.cpp semantics,
    SURVEY §2.3 A5): forward BFS accumulating path counts on the directed
    graph, then a backward level sweep on the transpose (the reference's
    O(1) ``transpose()``, graph.hpp:759-768, is here the second
    sort-order of the edge table: ``graph_t``). Deterministic.

    Resumable like every other kernel (the reference's dump/restore works
    for ANY vertex array, graph.hpp:253-306): ``on_state`` fires after
    every level of both phases with ("fwd", lv, {depth, sigma}) /
    ("bwd", back, {depth, sigma, dep}); ``start`` is the matching
    (phase, level, arrays) triple — per-level frontiers are rebuilt from
    the depth array, so no auxiliary state needs snapshotting.

    Returns dependencies: (dep−inv)/inv per reached vertex, 0 elsewhere.
    """
    eng = VertexEngine(graph)
    eng_t = VertexEngine(graph_t)
    n = graph.n_vertices

    start_phase, start_level = "fwd", -1
    if start is not None:
        start_phase, start_level, arrs = start
        depth = arrs["depth"].astype(np.int64).copy()
        sigma = arrs["sigma"].astype(np.float64).copy()
    else:
        depth = np.full(n, -1, dtype=np.int64)
        sigma = np.zeros(n, dtype=np.float64)
        depth[root] = 0
        sigma[root] = 1.0

    if start_phase == "fwd":
        # snapshot at fwd level L = frontier at depth L fully processed;
        # resume by re-arming the depth==L+1 frontier
        lv = start_level + 1
        frontier = depth == lv
        while frontier.any():
            ids, vals = eng.edge_aggregate(
                sigma, "sum", frontier=frontier, iteration=lv,
                dense_selective=depth < 0,
            )
            new_m = depth[ids] < 0
            newly = ids[new_m]
            depth[newly] = lv + 1
            sigma[newly] = vals[new_m]
            frontier = np.zeros(n, dtype=bool)
            frontier[newly] = True
            if on_state is not None:
                on_state("fwd", lv, {"depth": depth, "sigma": sigma})
            lv += 1

    reached = depth >= 0
    inv = np.zeros(n, dtype=np.float64)
    inv[reached] = 1.0 / sigma[reached]
    maxd = int(depth[reached].max()) if reached.any() else 0
    if start_phase == "bwd":
        dep = arrs["dep"].astype(np.float64).copy()
        back0 = start_level - 1  # snapshot at B = depth==B updated
    else:
        dep = np.zeros(n, dtype=np.float64)
        deepest = depth == maxd
        dep[deepest] = inv[deepest]
        back0 = maxd - 1
    for back in range(back0, -1, -1):
        frontier = depth == back + 1
        ids, vals = eng_t.edge_aggregate(
            dep, "sum", frontier=frontier, iteration=maxd - back
        )
        sel_m = depth[ids] == back
        sel = ids[sel_m]
        lvl_mask = depth == back
        dep[lvl_mask] = inv[lvl_mask]
        dep[sel] += vals[sel_m]
        if on_state is not None:
            on_state("bwd", back, {"depth": depth, "sigma": sigma, "dep": dep})
    eng_t.close()
    out = np.zeros(n, dtype=np.float64)
    out[reached] = (dep[reached] - inv[reached]) / inv[reached]
    return out, eng


def bfs_engine(
    graph: ChunkedGraph,
    root: int = 0,
    on_state: StateHook | None = None,
    start: np.ndarray | None = None,
    start_iter: int = 0,
) -> tuple[np.ndarray, VertexEngine]:
    """Frontier BFS; returns depths (unreached = -1). Deterministic
    (depth, not the reference's CAS-raced parent array, bfs.cpp:53).
    Dense/pull iterations skip already-visited dsts via the
    ``dense_selective`` bitmap (graph.hpp:1665-1689; bfs.cpp:77).
    Resume: seed ``start`` (internal representation: unreached = big);
    the frontier re-arms every reached vertex."""
    eng = VertexEngine(graph)
    n = graph.n_vertices
    # int32 depths whenever |V| < 2^31 (graph diameter ≪ 2^29): halves
    # the bandwidth through the min-combiner hot loop, like cc_engine
    ldt = np.int32 if n < 2**31 else np.int64
    big = int(np.iinfo(ldt).max // 4)
    if start is not None:
        # snapshots from a DIFFERENT-width build store unreached as THAT
        # dtype's big sentinel. Remap from the SMALLEST possible sentinel
        # (iinfo(int32).max//4), not this build's big: an int32-era
        # snapshot resumed on an int64 build would otherwise compare
        # below the int64 big and read as a real depth (ADVICE r5 low);
        # real depths are always ≪ 2^29 in every dtype, so the
        # comparison is lossless in both directions (ADVICE r4 medium).
        min_sentinel = int(np.iinfo(np.int32).max // 4)
        depth = np.where(np.asarray(start) >= min_sentinel, big, start).astype(ldt)
        frontier = depth < big
    else:
        depth = np.full(n, big, dtype=ldt)
        depth[root] = 0
        frontier = np.zeros(n, dtype=bool)
        frontier[root] = True
    i = start_iter
    while frontier.any():
        ids, vals = eng.edge_aggregate(
            depth, "min", msg_offset=1, frontier=frontier, iteration=i,
            dense_selective=depth >= big,
        )
        newly = vals < depth[ids]
        frontier = np.zeros(n, dtype=bool)
        frontier[ids[newly]] = True
        depth[ids[newly]] = vals[newly]
        if on_state is not None:
            on_state(i, depth)
        i += 1
    out = depth.copy()
    out[out >= big] = -1
    return out, eng


# ------------------------------------------------------------------ warm start
def extend_labels(prior: np.ndarray, n_new: int) -> np.ndarray:
    """Prior-run label array extended to a grown vertex space: existing
    vertices keep their labels, appended vertices get their own id (the
    state join-extension of VERDICT r4 #8)."""
    if n_new < len(prior):
        raise ValueError(f"vertex space shrank: {len(prior)} -> {n_new}")
    out = np.arange(n_new, dtype=np.int64)
    out[: len(prior)] = prior
    return out


def append_frontier(
    n_new: int, n_old: int, new_src: np.ndarray, new_dst: np.ndarray
) -> np.ndarray:
    """The warm-start frontier for an appended graph: endpoints of the
    appended edges plus every new vertex — the only places new
    information can originate when the prior state is a fixpoint of the
    pre-append graph."""
    f = np.zeros(n_new, dtype=bool)
    f[np.asarray(new_src, dtype=np.int64)] = True
    f[np.asarray(new_dst, dtype=np.int64)] = True
    f[n_old:] = True
    return f


def cc_engine_warm(
    sym_graph: ChunkedGraph,
    prior_labels: np.ndarray,
    new_src: np.ndarray,
    new_dst: np.ndarray,
    on_state: StateHook | None = None,
) -> tuple[np.ndarray, VertexEngine]:
    """CC over a graph that GREW by appended edges (a real crawl's
    steady state — streaming/ingest.start_edge_ingest lands the
    appends), warm-started from the prior run's converged labels:
    identical fixpoint to a cold run (HashMin labels are min-member ids;
    the min of old min-ids over a merged component is the global min),
    reached in a handful of supersteps because only the append sites
    seed the frontier."""
    n = sym_graph.n_vertices
    return cc_engine(
        sym_graph,
        on_state=on_state,
        start=extend_labels(prior_labels, n),
        start_frontier=append_frontier(n, len(prior_labels), new_src, new_dst),
    )


def k_core_engine(
    simple_sym_graph: ChunkedGraph,
    k: int,
    max_iters: int = 10**6,
) -> tuple[np.ndarray, VertexEngine]:
    """k-core membership by peeling on the chunked engine. The input graph
    must be the SIMPLE symmetrized graph (distinct undirected pairs shipped
    in both directions, self-loops dropped) — its per-vertex out-degree IS
    the undirected degree.

    This is the engine's natural sparse/push workload: each round's
    frontier is exactly the vertices dropped THIS round, and the only
    messages are their −1 degree contributions to live neighbors — the
    total work over the whole run is O(|E|) message traffic (every edge
    dies exactly once), not O(rounds·|E|). Synchronous rounds match
    k_core_ref / the DataFrame kernel exactly."""
    if k < 1:
        raise ValueError("k_core requires k >= 1")
    eng = VertexEngine(simple_sym_graph)
    n = simple_sym_graph.n_vertices
    deg = simple_sym_graph.out_degree.astype(np.int64).copy()
    ones = np.ones(n, dtype=np.int32)
    alive = deg > 0
    frontier = alive & (deg < k)
    i = 0
    while frontier.any() and i < max_iters:
        alive[frontier] = False
        ids, vals = eng.edge_aggregate(ones, "sum", frontier=frontier, iteration=i)
        deg[ids] -= vals
        frontier = alive & (deg < k)
        i += 1
    return alive, eng


def hits_engine(
    graph: ChunkedGraph,
    graph_t: ChunkedGraph,
    iters: int = 10,
) -> tuple[np.ndarray, np.ndarray, VertexEngine]:
    """HITS on the chunked engine: auth ← Σ_in hub (edge_aggregate over
    the graph), hub ← Σ_out auth (edge_aggregate over the transpose —
    the second sort order, same as bc_engine's backward sweep), each
    half-step L1-normalized. Both halves are full-frontier dense sweeps
    (like PageRank). Returns (auth, hub, forward engine)."""
    eng = VertexEngine(graph)
    eng_t = VertexEngine(graph_t)
    n = graph.n_vertices
    hub = np.ones(n, dtype=np.float64)
    auth = np.zeros(n, dtype=np.float64)
    for i in range(iters):
        ids, vals = eng.edge_aggregate(hub, "sum", iteration=2 * i)
        auth = np.zeros(n, dtype=np.float64)
        auth[ids] = vals
        s = auth.sum()
        if s > 0:
            auth /= s
        ids, vals = eng_t.edge_aggregate(auth, "sum", iteration=2 * i + 1)
        hub = np.zeros(n, dtype=np.float64)
        hub[ids] = vals
        s = hub.sum()
        if s > 0:
            hub /= s
    eng_t.close()
    return auth, hub, eng


def coreness_engine(
    simple_sym_graph: ChunkedGraph,
    max_iters: int = 10**6,
) -> tuple[np.ndarray, VertexEngine]:
    """Full core decomposition on the chunked engine — the DataFrame
    kernel's twin (functions/graph_algos.coreness): h-index fixpoint
    c(v) ← H({c(u)}) from c = degree, on the SIMPLE symmetrized graph
    (k_core_engine's input contract).

    Uses the ``hindex`` combiner (engine.py::_hindex_per_dst — counting
    h-index, no per-vertex value sort) under the ``affected_only``
    discipline shared with the mode combiner: once the changed set is
    sparse by the /20 rule, only dsts with a changed in-neighbor are
    recomputed — over ALL their in-edges, so results equal a full sweep
    exactly; the dense early rounds are whole-graph sweeps. Frontier =
    the vertices whose value dropped last round, so tail rounds touch
    only the still-moving subgraph. Returns (coreness int64, engine)."""
    eng = VertexEngine(simple_sym_graph)
    n = simple_sym_graph.n_vertices
    c = simple_sym_graph.out_degree.astype(np.int64).copy()
    changed = c > 0
    i = 0
    while changed.any() and i < max_iters:
        ids, vals = eng.edge_aggregate(
            c, "hindex", frontier=changed, affected_only=True, iteration=i
        )
        drop = vals < c[ids]
        changed = np.zeros(n, dtype=bool)
        changed[ids[drop]] = True
        c[ids[drop]] = vals[drop]
        i += 1
    return c, eng
