"""Dictionary encoding + chunk partitioning invariants."""

import numpy as np
from pyspark.sql import functions as F

from geminigraph_spark.plans.encode import assign_dense_ids, degree_table, encode_edges
from geminigraph_spark.plans.partition import (
    assign_chunks,
    boundaries_array,
    chunk_ranges,
    with_edge_chunks,
)
from geminigraph_spark.sources.extract import extract_links
from geminigraph_spark.sources.pages_fixture import gen_pages_df


def test_dense_ids_are_lexicographic_and_dense(spark):
    urls = spark.createDataFrame(
        [(f"https://z{i:04d}.example/",) for i in range(500)], ["url"]
    )
    d = assign_dense_ids(urls, num_partitions=7).toPandas().sort_values("url")
    assert list(d["id"].values) == list(range(500))


def test_dense_ids_partition_count_invariant(spark):
    urls = spark.createDataFrame(
        [(f"https://s{i % 97}.example/p/{i}",) for i in range(300)], ["url"]
    )
    a = assign_dense_ids(urls, num_partitions=3).toPandas().sort_values("url")
    b = assign_dense_ids(urls, num_partitions=11).toPandas().sort_values("url")
    assert (a["id"].values == b["id"].values).all()


def test_encode_pipeline_and_degrees(spark):
    pages = gen_pages_df(spark, 200, partitions=3)
    pairs = extract_links(pages)
    edges, vdict = encode_edges(pairs)
    ep = edges.toPandas()
    vd = vdict.toPandas()
    n = len(vd)
    assert set(vd["id"]) == set(range(n))
    assert ep["src_id"].between(0, n - 1).all()
    assert ep["dst_id"].between(0, n - 1).all()
    # degrees match a direct count
    deg = degree_table(
        edges.select(F.col("src_id"), F.col("dst_id")), vdict.select("id")
    ).toPandas()
    out = ep.groupby("src_id").size()
    got = deg.set_index("id")["out_degree"]
    for v, c in out.items():
        assert got[v] == c
    assert deg["out_degree"].sum() == len(ep)
    assert deg["in_degree"].sum() == len(ep)


def test_chunks_contiguous_and_balanced(spark):
    rng = np.random.default_rng(7)
    n = 2000
    deg = rng.zipf(2.0, n).clip(0, 500)
    verts = spark.createDataFrame(
        [(int(i), int(d)) for i, d in enumerate(deg)], "id long, out_degree long"
    )
    n_chunks = 8
    vc = assign_chunks(verts, n_chunks, num_partitions=5).toPandas().sort_values("id")
    # contiguous: chunk_id non-decreasing in id
    assert (np.diff(vc["chunk_id"].values) >= 0).all()
    assert vc["chunk_id"].nunique() == n_chunks
    # balanced within 2x of target weight (alpha default)
    alpha = 8 * (n_chunks - 1)
    w = vc.groupby("chunk_id").apply(
        lambda g: (g["out_degree"] + alpha).sum(), include_groups=False
    )
    assert w.max() / (w.sum() / n_chunks) < 2.5

    ranges = chunk_ranges(
        spark.createDataFrame(vc[["id", "chunk_id"]])
    )
    b = boundaries_array(ranges, n)
    assert b[0] == 0 and b[-1] == n
    edges = spark.createDataFrame(
        [(int(i), int((i * 37) % n)) for i in range(0, n, 3)], "src_id long, dst_id long"
    )
    ec = with_edge_chunks(edges, b).toPandas()
    want = np.searchsorted(b, ec["src_id"].values, side="right") - 1
    assert (ec["src_chunk"].values == want).all()


def test_encode_caches_only_the_dictionary(spark):
    """The ranked intermediate is released inside assign_dense_ids; the
    returned dictionary is the one cached frame, and unpersisting it
    leaves nothing cached."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keys())
    # an input no other test encodes: an equal plan would share its cache
    edges, vdict = encode_edges(extract_links(gen_pages_df(spark, 150, seed=11)))
    n = len(vdict.toPandas())
    assert edges.toPandas()["src_id"].between(0, n - 1).all()
    assert len(set(rdds().keys()) - before) == 1
    vdict.unpersist()
    assert set(rdds().keys()) <= before
