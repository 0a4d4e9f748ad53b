"""One-off scale evidence for the round-5 extension kernels (PPR, k-core,
HITS) on the chunked engine at bench scale.

NOTE (round 6): these kernels now ALSO run inside bench.py as
quiet-certified legs (synth_ppr20 / synth_hits10 / synth_kcore40) with
floors/retries — bench_floors.json is their authoritative record. This
tool remains the two-parallelism A/B harness for an extension-kernel
scaling study (run at two --cores on the same graph).

Builds the SAME deterministic synth edge set bench.py's synth section uses
(operators/synth.edge_of, seed 42), derives the graphs each kernel needs
(directed for PPR, directed + transpose for HITS, simple symmetrized for
k-core), and times each kernel at the given core count. Prints one JSON
line; run at two parallelism levels for the north-rule A/B, e.g.:

    python tools/bench_extensions.py --cores 8
    python tools/bench_extensions.py --cores 32

Graph build is NOT in the timed region (matching bench.py's protocol —
the reference times compute over a warm graph, toolkits/pagerank.cpp:
144-147)."""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from geminigraph_spark.operators.algorithms import (  # noqa: E402
    hits_engine,
    k_core_engine,
    pagerank_engine,
)
from geminigraph_spark.operators.chunked_graph import ChunkedGraph  # noqa: E402
from geminigraph_spark.operators.synth import edge_of  # noqa: E402
from geminigraph_spark.session import get_spark  # noqa: E402


def _edges_df(spark, V: int, E: int, seed: int, n_parts: int):
    """The synth edge set as a DataFrame, generated per-partition (the
    same edge_of stream synth_graph spills to chunks)."""
    from pyspark.sql import functions as F  # noqa: F401

    def gen(batches):
        for pdf in batches:
            g = pdf["id"].values
            s, d = edge_of(g, V, seed)
            yield pd.DataFrame({"src": s, "dst": d})

    return (
        spark.range(0, E, 1, n_parts)
        .mapInPandas(gen, "src long, dst long")
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--vertices", type=int, default=1_000_000)
    ap.add_argument("--edges", type=int, default=30_000_000)
    ap.add_argument("--k", type=int, default=40)
    ap.add_argument("--iters", type=int, default=10)
    ap.add_argument("--chunks", type=int, default=32)
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    V, E = args.vertices, args.edges
    spark = get_spark("bench-ext", cores=args.cores, shuffle_partitions=args.cores)
    spill = tempfile.mkdtemp(prefix="gemini_ext_")

    e = _edges_df(spark, V, E, seed=42, n_parts=args.chunks)
    g = ChunkedGraph.build(
        spark, e, n_chunks=args.chunks, n_vertices=V,
        spill_dir=os.path.join(spill, "fwd"),
    )
    from pyspark.sql import functions as F

    g_t = ChunkedGraph.build(
        spark,
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        n_chunks=args.chunks, n_vertices=V,
        spill_dir=os.path.join(spill, "rev"),
    )
    simple = (
        e.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
    )
    sym = ChunkedGraph.build(
        spark,
        simple.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            simple.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        ),
        n_chunks=args.chunks, n_vertices=V,
        spill_dir=os.path.join(spill, "sym"),
    )

    seeds = np.zeros(V, dtype=bool)
    seeds[::1000] = True

    out = {"cores": args.cores, "V": V, "E": E, "E_simple_sym": int(sym.n_edges)}

    # calibration: plain PageRank on the SAME graph/session/weather —
    # kernel costs below are interpretable as ratios to this leg even
    # when an external co-tenant skews absolute times
    best = None
    for _ in range(args.repeats):
        t0 = time.time()
        pagerank_engine(g, iters=args.iters)
        best = min(best or 9e9, time.time() - t0)
    out["pr10_sec"] = round(best, 3)
    out["pr_gteps"] = round(args.iters * E / best / 1e9, 4)

    best = None
    for _ in range(args.repeats):
        t0 = time.time()
        pagerank_engine(g, iters=args.iters, teleport=seeds)
        best = min(best or 9e9, time.time() - t0)
    out["ppr10_sec"] = round(best, 3)
    out["ppr_gteps"] = round(args.iters * E / best / 1e9, 4)

    best, rounds, msgs = None, 0, 0
    for _ in range(args.repeats):
        t0 = time.time()
        alive, eng = k_core_engine(sym, k=args.k)
        best = min(best or 9e9, time.time() - t0)
        rounds = len(eng.metrics)
        msgs = int(sum(m.processed_edges for m in eng.metrics))
    out["kcore_sec"] = round(best, 3)
    out["kcore_k"] = args.k
    out["kcore_rounds"] = rounds
    out["kcore_core_size"] = int(alive.sum())
    out["kcore_msgs"] = msgs
    out["kcore_msgs_over_E"] = round(msgs / sym.n_edges, 4)

    best = None
    for _ in range(args.repeats):
        t0 = time.time()
        hits_engine(g, g_t, iters=args.iters)
        best = min(best or 9e9, time.time() - t0)
    out["hits10_sec"] = round(best, 3)
    out["hits_gteps"] = round(2 * args.iters * E / best / 1e9, 4)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
