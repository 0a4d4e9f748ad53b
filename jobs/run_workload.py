"""spark-submit entry point for the link-graph workloads.

Usage (local or cluster; ship the package with --py-files):

    zip -r engine.zip geminigraph_spark/
    spark-submit --py-files engine.zip jobs/run_workload.py \
        --workload pagerank --pages /data/pages_parquet \
        --iters 20 --out /data/pagerank_out \
        --checkpoint-root /data/ckpt --run-id run1

    # or resume the same run after a failure:
    spark-submit ... --resume

Workloads: pagerank | cc | lp | sssp | bfs | bc | tc.
Input: either --pages (Common-Crawl-style pages parquet/Iceberg: url,
warc_ts, html, text, lang → links are extracted + encoded) or --edges
(pre-encoded parquet with src/dst long columns).

Every iteration snapshots vertex state + metrics through
plans.checkpoint.SnapshotStore (per-chunk lineage + monotonic snapshot
ids; see north_rule), so ALL workloads — including two-phase bc, whose
snapshots carry (depth, sigma[, dep]) plus a phase/level marker — resume
mid-computation with --resume.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    graphs: list = []  # every ChunkedGraph this run builds or loads
    try:
        return _run(graphs)
    finally:
        # removes their temp spill dirs; saved graph tables stay
        for g in graphs:
            g.unpersist()


def _run(graphs: list) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pagerank", "ppr", "cc", "lp", "sssp", "bfs",
                             "bc", "tc", "kcore", "coreness", "hits"])
    ap.add_argument("--pages", help="pages table path (url, warc_ts, html, ...)")
    ap.add_argument("--edges", help="pre-encoded edge parquet (src, dst[, w])")
    ap.add_argument("--out", required=True)
    ap.add_argument("--iters", type=int, default=20)
    ap.add_argument("--root", type=int, default=0)
    ap.add_argument("--k", type=int, default=3,
                    help="kcore: keep vertices with survivor-degree >= k")
    ap.add_argument("--seed-mod", type=int, default=10,
                    help="ppr: teleport seed set = vertices with id %% seed-mod == 0")
    ap.add_argument("--checkpoint-root", default="")
    ap.add_argument("--run-id", default="run")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--snapshot-interval",
        type=int,
        default=1,
        help="snapshot every k-th iteration (resume replays ≤ k−1); cuts "
        "per-superstep snapshot I/O on long runs",
    )
    ap.add_argument(
        "--keep-snapshots",
        type=int,
        default=0,
        help="retain only the N newest snapshots (expire_snapshots after "
        "each save — Iceberg-style retention; 0 = keep all). Resume uses "
        "the newest retained snapshot, so N≥1 preserves resumability "
        "while bounding checkpoint storage and manifest growth",
    )
    ap.add_argument("--n-chunks", type=int, default=0)
    ap.add_argument(
        "--warm-labels",
        default="",
        help="cc only: a prior run's (id, label) output parquet — warm-"
        "start from its converged labels when the edge table has GROWN "
        "(streaming ingest appends); requires --append-edges and a "
        "stable vertex-id space. Converges in a few supersteps instead "
        "of from scratch, with the identical fixpoint",
    )
    ap.add_argument(
        "--append-edges",
        default="",
        help="cc only: parquet of just the APPENDED (src, dst) rows — "
        "their endpoints plus any new vertices seed the warm frontier",
    )
    ap.add_argument(
        "--graph-table",
        default="",
        help="persisted ChunkedGraph dir (parquet bucketed by dst_chunk + "
        "manifest): loaded if it exists, else built from the input and "
        "saved there — so reruns/resumes skip the degree + bucketing pass",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName(f"gemini-{args.workload}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.pages:
        from geminigraph_spark.plans.encode import encode_edges
        from geminigraph_spark.sources.extract import extract_links

        pages = spark.read.parquet(args.pages)
        links = extract_links(pages).persist()
        links.count()
        edges_ids, vdict = encode_edges(links)
        edges = edges_ids.select(
            F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
        ).persist()
    elif args.edges:
        edges = spark.read.parquet(args.edges).persist()
    else:
        ap.error("one of --pages / --edges is required")

    n_chunks = args.n_chunks or spark.sparkContext.defaultParallelism

    import numpy as np
    import pandas as pd

    from geminigraph_spark.functions.edges import symmetrize_df
    from geminigraph_spark.operators import algorithms as A
    from geminigraph_spark.operators.chunked_graph import ChunkedGraph
    from geminigraph_spark.plans.checkpoint import (
        SnapshotStore,
        write_metrics_parquet,
    )

    t0 = time.time()
    store = None
    if args.checkpoint_root:
        store = SnapshotStore(args.checkpoint_root, args.run_id, args.workload)

    def _save(i, arr, boundaries, extra=None):
        sid = store.save(i, arr, boundaries, extra=extra)
        if args.keep_snapshots > 0:
            store.expire_snapshots(keep_last=args.keep_snapshots)
        return sid

    def hook(g, extra_fn=None):
        if store is None:
            return None
        k = max(1, args.snapshot_interval)
        return lambda i, arr: (
            _save(i, arr, g.boundaries, extra=extra_fn(i) if extra_fn else None)
            if i % k == k - 1 or k == 1
            else None
        )

    if args.workload == "tc":
        from geminigraph_spark.functions.graph_algos import triangle_count

        res = triangle_count(edges)
        res.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"workload": "tc", "wall_s": time.time() - t0}))
        return 0

    sym_needed = args.workload in ("cc", "lp")
    e = symmetrize_df(edges) if sym_needed else edges
    if args.workload in ("kcore", "coreness"):
        # the k-core / coreness object is the SIMPLE undirected graph: distinct
        # pairs shipped both directions, self-loops dropped
        und = (
            edges.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
            )
            .distinct()
        )
        e = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
            und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
    weighted = args.workload == "sssp"
    if weighted and "w" not in e.columns:
        # pages-derived (and plain src/dst) edges carry no weight column:
        # derive the deterministic integer-arithmetic weights the library
        # uses everywhere (functions/edges.weighted_events_edges)
        e = e.withColumn(
            "w",
            ((F.col("src") * 7 + F.col("dst") * 13) % 100).cast("double") / 10.0
            + 0.1,
        )
    import os

    # the saved table bakes in the workload-specific edge derivation —
    # record it on save, validate on load (a symmetrized table silently
    # corrupts pagerank/bfs; an unweighted one crashes sssp)
    derivation = (
        "simple_sym"
        if args.workload in ("kcore", "coreness")
        else ("symmetrized" if sym_needed else ("weighted" if weighted else "directed"))
    )
    if args.graph_table and os.path.exists(
        os.path.join(args.graph_table, "manifest.json")
    ):
        g = ChunkedGraph.load(spark, args.graph_table, expect_derivation=derivation)
    else:
        g = ChunkedGraph.build(spark, e, n_chunks=n_chunks, weighted=weighted)
        if args.graph_table:
            g.save(args.graph_table, derivation=derivation)
    graphs.append(g)

    start, start_iter = None, 0
    if args.resume and args.workload in ("kcore", "coreness", "hits"):
        # kcore/coreness converge in few total-bounded rounds and hits half-steps
        # are cheap relative to snapshot IO; neither keeps snapshot state
        raise SystemExit(f"--resume is not supported for {args.workload}")
    if args.resume and store is not None and args.workload != "bc":
        latest = store.latest()
        if latest is not None:
            start_iter, start = latest[0] + 1, latest[1]

    def load_or_build_transpose():
        # the transpose is a second derivation-tagged table: reruns with
        # --graph-table skip BOTH builds, mirroring the reference's O(1)
        # transpose() reuse (core/graph.hpp:759-768)
        gt_table = args.graph_table + "_t" if args.graph_table else ""
        if gt_table and os.path.exists(os.path.join(gt_table, "manifest.json")):
            gt = ChunkedGraph.load(spark, gt_table, expect_derivation="transposed")
        else:
            gt = ChunkedGraph.build(
                spark,
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
                n_chunks=n_chunks,
                n_vertices=g.n_vertices,
            )
            if gt_table:
                gt.save(gt_table, derivation="transposed")
        graphs.append(gt)
        return gt

    multi = None
    if args.workload in ("pagerank", "ppr"):
        # Enforce the pagerank resume contract (pagerank_engine docstring;
        # ADVICE r4 low): every snapshot except the final iteration's is
        # PRE-DIVIDED; the final one is the undivided result. Snapshots
        # record their iters target + is_final so a --resume toward a
        # different target fails loudly instead of silently feeding the
        # wrong state representation back into the recurrence. (ppr shares
        # pagerank's state representation and therefore its contract.)
        if start is not None:
            ent = store.latest_entry() or {}
            ex = ent.get("extra") or {}
            tgt = ex.get("iters_target")
            # ppr snapshots also pin the teleport vector's identity
            # (ADVICE r5 medium): resuming with a different --seed-mod
            # would feed state from one seed set into a recurrence with
            # another teleport vector — a silent hybrid, never a crash.
            if args.workload == "ppr":
                snap_sm = ex.get("seed_mod")
                if snap_sm is not None and snap_sm != args.seed_mod:
                    raise SystemExit(
                        f"--resume: snapshot was written by a ppr run with "
                        f"--seed-mod {snap_sm}, not {args.seed_mod}; the "
                        "teleport vectors differ, so resuming would converge "
                        "to a hybrid of two recurrences. Use the original "
                        "--seed-mod or start fresh."
                    )
            if ex.get("is_final") and args.iters != tgt:
                raise SystemExit(
                    f"--resume: newest snapshot is the FINAL (undivided) state "
                    f"of a completed iters={tgt} run; it cannot seed an "
                    f"iters={args.iters} run (state would be re-fed undivided). "
                    "Start fresh or resume with the original --iters."
                )
            if not ex.get("is_final") and start_iter >= args.iters:
                raise SystemExit(
                    f"--resume: newest snapshot is at iteration {start_iter - 1} "
                    f"(pre-divided state), deeper than --iters {args.iters}; "
                    "the run would end without the undivided final step. "
                    f"Use --iters > {start_iter - 1} or start fresh."
                )
        extra = {"iters_target": args.iters}
        if args.workload == "ppr":
            extra["seed_mod"] = args.seed_mod
        kw = dict(
            iters=args.iters,
            on_state=hook(
                g,
                extra_fn=lambda i: dict(extra, is_final=i == args.iters - 1),
            ),
            start=start,
            start_iter=start_iter,
        )
        if args.workload == "ppr":
            seeds = np.zeros(g.n_vertices, dtype=bool)
            seeds[:: max(1, args.seed_mod)] = True
            vals, eng = A.pagerank_engine(g, teleport=seeds, **kw)
        else:
            vals, eng = A.pagerank_engine(g, **kw)
        col = "rank"
    elif args.workload == "cc":
        wfro = None
        if args.warm_labels and args.append_edges and start is None:
            # warm start on an appended graph (VERDICT r4 #8): prior
            # labels extend with own-id for new vertices; only the
            # append sites seed the frontier (exact — see cc_engine_warm)
            lab = (
                spark.read.parquet(args.warm_labels)
                .orderBy("id")
                .toPandas()
            )
            prior = lab["label"].values.astype(np.int64)
            ne = (
                spark.read.parquet(args.append_edges)
                .select("src", "dst")
                .toPandas()
            )
            start = A.extend_labels(prior, g.n_vertices)
            wfro = A.append_frontier(
                g.n_vertices, len(prior), ne["src"].values, ne["dst"].values
            )
        vals, eng = A.cc_engine(
            g,
            on_state=hook(g),
            start=start,
            start_iter=start_iter,
            start_frontier=wfro,
        )
        col = "label"
    elif args.workload == "lp":
        vals, eng = A.lp_engine(
            g, iters=args.iters, on_state=hook(g), start=start, start_iter=start_iter
        )
        col = "label"
    elif args.workload == "sssp":
        vals, eng = A.sssp_engine(
            g, root=args.root, on_state=hook(g), start=start, start_iter=start_iter
        )
        col = "dist"
    elif args.workload == "bfs":
        vals, eng = A.bfs_engine(
            g, root=args.root, on_state=hook(g), start=start, start_iter=start_iter
        )
        col = "depth"
    elif args.workload == "kcore":
        alive, eng = A.k_core_engine(g, k=args.k)
        vals = alive.astype(np.int32)
        col = "in_core"
    elif args.workload == "coreness":
        vals, eng = A.coreness_engine(g)
        col = "coreness"
    elif args.workload == "hits":
        gt = load_or_build_transpose()
        auth, hub, eng = A.hits_engine(g, gt, iters=args.iters)
        multi = {"auth": auth, "hub": hub}
        vals = auth  # for the |V| in the output frame
        col = "auth"
    else:  # bc — two-phase; snapshots carry named arrays + phase marker
        import itertools

        bc_start, next_idx = None, 0
        if args.resume and store is not None:
            entry = store.latest_entry()
            if entry is not None:
                _it, arrays, extra = store.restore(entry["snapshot_id"])
                bc_start = (extra["phase"], extra["level"], arrays)
                next_idx = entry["iteration"] + 1
        counter = itertools.count(next_idx)
        # --snapshot-interval applies to bc like every other workload:
        # save every k-th level, PLUS the first level of each phase (the
        # phase-transition snapshot) so resume replays ≤ k−1 levels and
        # never has to cross a phase boundary it has no snapshot for
        k_bc = max(1, args.snapshot_interval)
        bc_seen = {"n": 0, "phase": None}

        def bc_hook(phase, level, arrays):
            first_of_phase = phase != bc_seen["phase"]
            bc_seen["phase"] = phase
            i = bc_seen["n"]
            bc_seen["n"] += 1
            if not (first_of_phase or i % k_bc == k_bc - 1):
                return
            _save(
                next(counter),
                arrays,
                g.boundaries,
                extra={"phase": phase, "level": int(level)},
            )

        gt = load_or_build_transpose()
        vals, eng = A.bc_engine(
            g,
            gt,
            root=args.root,
            on_state=bc_hook if store is not None else None,
            start=bc_start,
        )
        col = "bc"

    cols = {"id": np.arange(len(vals))}
    if multi is not None:
        cols.update(multi)
    else:
        cols[col] = vals
    out = spark.createDataFrame(pd.DataFrame(cols))
    out.write.mode("overwrite").parquet(args.out)
    if store is not None:
        write_metrics_parquet(store, eng.metrics)
    print(
        json.dumps(
            {
                "workload": args.workload,
                "n_vertices": g.n_vertices,
                "n_edges": g.n_edges,
                "supersteps": len(eng.metrics),
                "wall_s": round(time.time() - t0, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
