"""Dictionary encoding: url → dense int64 vertex id.

The reference takes dense uint32 vertex ids as a given (core/type.hpp:24,
README.md:25 — |V| is a CLI argument and ids index C arrays directly). Our
input is URLs, so we must mint the dense id space ourselves.

Scale design: a naive ``row_number() OVER (ORDER BY url)`` funnels the
whole dictionary through ONE task. Instead we use the standard two-pass
distributed ranking pattern:

  1. range-partition distinct urls by url (contiguous sorted ranges),
  2. count rows per partition (tiny collect: one long per partition),
  3. per-partition rank (window partitioned by partition id — fully
     parallel) + the partition's global offset.

Ids are therefore assigned in **global lexicographic url order**, which for
web graphs is exactly the locality-aware numbering Gemini wants from its
contiguous chunk ranges (core/graph.hpp:823-858): pages of the same site
get adjacent ids, so edge locality (intra-site links dominate) maps to
id-space locality, which chunking then exploits.

The ranked intermediate is persisted so both passes see the same
(sample-based) range boundaries; any boundary choice yields the same final
ids because ranks are offset by actual partition counts. It is released
once the returned dictionary is cached; the dictionary is the caller's to
unpersist.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: r7 measured note: broadcast-hinting the (url, id) dictionary into the
#: edge-encoding joins is a LOSS at pipeline scale — building + shipping
#: two broadcast hash relations of 198k url strings cost ~8 s while the
#: two shuffle joins they would replace cost 1.7 s (urls are long keys;
#: the string hash relation is driver-built twice). The hint was removed
#: after measurement; the shuffle join stands at every scale.


def assign_dense_ids(urls: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Distinct urls → (url string, id long) with ids dense 0..V-1 in
    lexicographic url order. Deterministic and partition-count independent
    (ids are global lexicographic ranks — any range-boundary choice yields
    the same ids because ranks are offset by actual partition counts).

    One wide shuffle total (r7, guide §2.4 — was two): a map-side
    per-batch pre-dedup feeds ONE range repartition; equal urls land in
    the same range partition, so a partition-local sort + cross-batch
    dedup + running rank replaces the former separate distinct() shuffle
    AND the row_number window re-sort.

    The result is cached and materialized; the caller unpersists it."""
    spark = urls.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism

    def pre_dedup(batches):
        for pdf in batches:
            if len(pdf):
                yield pdf[["url"]].drop_duplicates()

    def dedup_rank(batches):
        # partition = one sorted url range; batches arrive in sort order,
        # so consecutive-duplicate removal across batch boundaries is a
        # global distinct, and the running counter is the local rank
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        rn = 0
        last = None
        for pdf in batches:
            u = pdf["url"].values
            if len(u) == 0:
                continue
            keep = np.ones(len(u), dtype=bool)
            keep[1:] = u[1:] != u[:-1]
            if last is not None and u[0] == last:
                keep[0] = False
            last = u[-1]
            uu = u[keep]
            out = pd.DataFrame(
                {
                    "url": uu,
                    "pid": np.full(len(uu), pid, dtype=np.int32),
                    "rn": np.arange(rn, rn + len(uu), dtype=np.int64),
                }
            )
            rn += len(uu)
            yield out

    # persist the pre-deduped stream: repartitionByRange first runs a
    # SAMPLING job over its input to pick boundaries, which would
    # otherwise recompute the whole upstream (extraction included) twice
    pre = urls.select("url").mapInPandas(pre_dedup, "url string").persist()
    d = (
        pre.repartitionByRange(num_partitions, "url")
        .sortWithinPartitions("url")
        .mapInPandas(dedup_rank, "url string, pid int, rn long")
        .persist()
    )
    counts = dict(d.groupBy("pid").agg(F.count(F.lit(1))).collect())
    pre.unpersist()
    # offset of a range partition = urls in the partitions before it
    per = [counts.get(p, 0) for p in range(max(counts, default=0) + 1)]
    offs = np.cumsum([0] + per[:-1])
    off = F.array(*[F.lit(int(o)) for o in offs])
    out = d.select(
        "url", (F.element_at(off, F.col("pid") + 1) + F.col("rn")).cast("long").alias("id")
    ).persist()
    out.count()  # built from d's cached blocks; d is not needed after this
    d.unpersist()
    return out


def encode_edges(
    edge_urls: DataFrame, vertex_dict: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """(src_url, dst_url) pairs → ((src_id, dst_id), (url, id) dictionary).

    The vertex set is every url appearing on either side (the reference's
    "|V| covers all ids in the edge tuples" convention, README.md:25);
    external link targets are materialized as vertices (FIXTURES.md F1(d)).
    A dictionary built here is cached; the caller unpersists it.
    """
    if vertex_dict is None:
        all_urls = edge_urls.select(F.col("src_url").alias("url")).unionByName(
            edge_urls.select(F.col("dst_url").alias("url"))
        )
        vertex_dict = assign_dense_ids(all_urls)
    src_d = vertex_dict.select(
        F.col("url").alias("src_url"), F.col("id").alias("src_id")
    )
    dst_d = vertex_dict.select(
        F.col("url").alias("dst_url"), F.col("id").alias("dst_id")
    )
    edges = (
        edge_urls.join(src_d, "src_url")
        .join(dst_d, "dst_url")
        .select("src_id", "dst_id")
    )
    return edges, vertex_dict


def degree_table(edges: DataFrame, vertex_ids: DataFrame) -> DataFrame:
    """(id) → (id, out_degree, in_degree); parallel edges each count, like
    the reference's loader (core/graph.hpp:798-821 counts every tuple)."""
    out_d = edges.groupBy(F.col("src_id").alias("id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col("dst_id").alias("id")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        vertex_ids.select("id")
        .join(out_d, "id", "left")
        .join(in_d, "id", "left")
        .fillna(0, subset=["out_degree", "in_degree"])
    )
