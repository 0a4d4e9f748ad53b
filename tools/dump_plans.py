"""Dump .explain('formatted') for declared queries to plans/r07/.

Usage: python tools/dump_plans.py [--out-dir DIR] <before|after> q1 [q2 ...]
Writes ``<DIR>/<query>_<tag>.txt``; DIR defaults to plans/r07 in this
checkout. Give a DIR outside the checkout for a before/after check, so
the committed plan files are not overwritten.
Besides declared queries: ``pagerank_superstep``, ``ppr_superstep``
(seeds ``id % 10 == 0``), ``pagerank_weighted_superstep``,
``cc_superstep`` and ``lp_superstep`` (first superstep of the DataFrame
kernel) and ``triangle_count_join`` (the DataFrame three-way self-join).
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.01), SPARK_GRAFT_CPUS.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    out_dir = args[1] if args[:1] == ["--out-dir"] else None
    if out_dir is not None:
        args = args[2:]
    tag = args[0]
    names = args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    out_dir = out_dir or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r07",
    )
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entry
    from geminigraph_spark.session import get_spark

    spark = get_spark("dump-plans", extra_conf={"spark.ui.showConsoleProgress": "false"})

    def explain_str(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    def superstep_plan(kernel: str) -> str:
        """The FIRST superstep's physical plan captured through the real
        kernel code path (the checkpoint hook sees the lazy state frame
        before materialization) — the final returned plan of an iterative
        kernel is just a checkpoint scan and shows nothing."""
        from geminigraph_spark.functions import graph_algos as GA
        from geminigraph_spark.functions.edges import (
            events_edges,
            weighted_events_edges,
        )
        from pyspark.sql import functions as F

        cell = {}

        def cap(i, df):
            if i >= 0 and "plan" not in cell:
                cell["plan"] = explain_str(df)
            return df.localCheckpoint(eager=True)

        e = events_edges(spark, sf_dir)
        if kernel == "pagerank_superstep":
            GA.pagerank(e, iters=2, checkpoint=cap)
        elif kernel == "ppr_superstep":
            seeds = GA._vertices_of(e).where(F.col("id") % 10 == 0)
            GA.pagerank(e, iters=2, checkpoint=cap, teleport=seeds)
        elif kernel == "pagerank_weighted_superstep":
            w = weighted_events_edges(spark, sf_dir)
            GA.pagerank(w, iters=2, checkpoint=cap, weight="w")
        elif kernel == "cc_superstep":
            GA.connected_components(e, max_iters=2, checkpoint=cap)
        elif kernel == "lp_superstep":
            GA.label_propagation(e, iters=2, checkpoint=cap)
        else:
            raise KeyError(kernel)
        return cell["plan"]

    def join_plan() -> str:
        """The plan of the count over triangle_count's self-join, taken
        as the kernel collects it, with the in-driver route off."""
        from geminigraph_spark.functions import graph_algos as GA
        from geminigraph_spark.functions.edges import events_edges
        from geminigraph_spark.operators import engine

        e = events_edges(spark, sf_dir)
        frame, cell = type(e), {}
        first, cap = frame.first, engine.DRIVER_MAX_WORK

        def capture(df):
            cell.setdefault("plan", explain_str(df))
            return first(df)

        frame.first, engine.DRIVER_MAX_WORK = capture, -1
        try:
            GA.triangle_count(e)
        finally:
            frame.first, engine.DRIVER_MAX_WORK = first, cap
        return cell["plan"]

    qs = entry.queries()
    for name in names:
        if name == "triangle_count_join":
            plan = join_plan()
        elif name.endswith("_superstep"):
            plan = superstep_plan(name)
        else:
            plan = explain_str(qs[name](spark, sf_dir))
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
