"""Physical-plan audits: the properties that make these pipelines survive
a 100× scale-up — column pruning to the parquet scan, predicate pushdown,
broadcast of small sides, and JVM-side (codegen) execution of the doc
operators — asserted from the optimized plans, not assumed.
"""

import pytest

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.usefixtures("dataframe_route")


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_events_scan_prunes_columns(spark):
    from geminigraph_spark.functions.edges import events_edges

    plan = _formatted(events_edges(spark, SF))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    # the edge derivation needs user_id + event_id ONLY — ts/payload etc.
    # must not reach the scan
    for ln in scan:
        assert "user_id" in ln and "event_id" in ln, ln
        assert "ts:" not in ln, ln  # events.ts column must be pruned
        assert "payload" not in ln


def test_cosine_topk_pushes_query_filter(spark):
    from geminigraph_spark.functions.docpipe import cosine_topk

    plan = _formatted(cosine_topk(spark, SF))
    # the vec_id < n_queries predicate must reach the parquet scan
    assert "PushedFilters" in plan
    assert any(
        "LessThan(vec_id" in ln for ln in plan.splitlines() if "PushedFilters" in ln
    ), plan
    # the query side must not drag the label column through the cross join
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all("label" not in ln for ln in scans), scans


def test_token_stats_is_jvm_codegen(spark):
    """The doc operators must stay whole-stage-codegen'd — no BatchEvalPython
    / ArrowEvalPython (Python UDF) nodes anywhere in the hot path."""
    from geminigraph_spark.functions.docpipe import quality_score, token_stats

    for q in (token_stats, quality_score):
        plan = _formatted(q(spark, SF))
        assert "EvalPython" not in plan, plan
        assert "codegen id" in plan, plan  # formatted mode's codegen marker


def test_dedup_simhash_plan_is_jvm_and_pruned(spark):
    """The simhash near-dup pipeline stays JVM-side end to end (token
    explode, banded join, xor+bit_count verify — no Python UDF nodes) and
    the documents scan reads only what tokenization needs."""
    from geminigraph_spark.functions.docpipe import dedup_simhash

    df = dedup_simhash(spark, SF)
    # its vocabulary is a local checkpoint, not a cached (already run)
    # subtree: AQE shows codegen ids once the plan has run
    df.collect()
    plan = _formatted(df)
    assert "EvalPython" not in plan, plan
    assert "codegen id" in plan, plan
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans
    for ln in scans:
        assert "url" not in ln and "quality" not in ln, ln


def test_sparse_frontier_join_broadcasts(spark):
    """In sparse/push mode the frontier side of the message join is
    broadcast (graph.hpp:1529-1662 push = frontier replication) — assert
    the hint survives to the physical plan."""
    import numpy as np
    from pyspark.sql import functions as F

    from geminigraph_spark.functions.graph_algos import SPARSE_DENOM

    # a tiny frontier against a larger edge table
    edges = spark.range(5000).select(
        (F.col("id") % 500).alias("src"), ((F.col("id") * 7 + 3) % 500).alias("dst")
    )
    fr = spark.range(3).select(F.col("id").alias("src"), F.lit(0.0).alias("vsrc"))
    joined = edges.join(F.broadcast(fr), "src").groupBy("dst").agg(
        F.min("vsrc").alias("m")
    )
    plan = _formatted(joined)
    assert "BroadcastHashJoin" in plan, plan
    # sanity: the kernels' mode rule picks sparse exactly under |E|/20
    # (frontier of 3 vertices × out-degree 10 vs 5000 edges)
    assert 3 * 10 < 5000 / SPARSE_DENOM


def test_jaccard_docs_scan_prunes(spark):
    from geminigraph_spark.functions.docpipe import jaccard_ngram

    plan = _formatted(jaccard_ngram(spark, SF))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans
    # shingling needs doc_id + text only
    for ln in scans:
        assert "lang" not in ln and "source" not in ln and "n_chars" not in ln, ln


def test_host_graph_plan_is_jvm_pruned_single_shuffle(spark):
    """The host rollup must be one shuffle keyed on the host pair, fully
    codegen'd, with the events scan pruned to the two id columns (the
    COUNT DISTINCTs plan as expand + two-phase aggregate, not a second
    row-wise shuffle of raw pages)."""
    from geminigraph_spark.functions.edges import host_graph

    df = host_graph(spark, SF)
    plan = _formatted(df)
    assert "EvalPython" not in plan, plan
    # (no 'codegen id' assert: the AQE wrapper prints isFinalPlan=false
    # before execution and elides codegen ids; JVM-onlyness is what
    # matters and EvalPython-absence pins it)
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans
    for ln in scans:
        assert "user_id" in ln and "event_id" in ln, ln
        assert "ts:" not in ln, ln
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan  # expand-stage partial agg + final agg


def test_round6_kernels_stay_jvm_side(spark):
    """The round-6 extension kernels are pure DataFrame compositions —
    no Python-UDF (EvalPython) node may appear anywhere in their plans,
    and the scans they drive must stay pruned to (user_id, event_id)."""
    from pyspark.sql import functions as F

    from geminigraph_spark.functions.edges import sparse_events_edges
    from geminigraph_spark.functions.graph_algos import (
        coreness,
        maximal_independent_set,
        multi_source_bfs,
        random_walks,
    )

    e = sparse_events_edges(spark, SF)
    seeds = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .where(F.col("id") % 7 == 0)
    )
    plans = {
        "coreness": _formatted(coreness(e, max_iters=2)),
        "mis": _formatted(maximal_independent_set(e, max_iters=2)),
        "ms_bfs": _formatted(multi_source_bfs(e, seeds, max_iters=2)),
        "walks": _formatted(random_walks(e, seeds, length=2)),
    }
    for name, plan in plans.items():
        assert "EvalPython" not in plan, (name, plan)
    scan_lines = [
        ln
        for ln in plans["coreness"].splitlines()
        if "ReadSchema" in ln
    ]
    for ln in scan_lines:
        assert "payload" not in ln, ln
