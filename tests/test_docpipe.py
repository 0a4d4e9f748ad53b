"""Doc-pipeline Spark ops vs DuckDB oracles (in-process, sf0.001) — the
same comparison the round driver runs, kept here so `pytest` alone
demonstrates the oracle strategy."""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def _compare(spark, duck, fn, sql):
    sys.path.insert(0, "/root/repo")
    from tools.check_oracles import compare

    got = fn(spark, SF).toPandas()
    want = duck.execute(sql).fetchdf()
    ok, msg = compare(got, want)
    assert ok, msg


@pytest.mark.parametrize(
    "name",
    ["token_stats", "quality_score", "lang_id", "dedup_exact", "simhash", "cosine_topk"],
)
def test_docpipe_matches_duckdb(spark, duck, name):
    from geminigraph_spark.functions import docpipe as D
    from geminigraph_spark.functions import sql_oracles_docs as SD

    fn = getattr(D, name if name != "cosine_topk" else "cosine_topk")
    sql = getattr(SD, f"{name}_sql")()
    _compare(spark, duck, fn, sql)


def test_graph_query_matches_duckdb(spark, duck):
    import __spark_entry__ as E

    _compare(spark, duck, E.queries()["degrees"], E.oracle_sql()["degrees"])


@pytest.mark.parametrize("name", ["host_graph", "host_rank", "dedup_clusters"])
def test_round5_gates_match_duckdb(spark, duck, name):
    """Host rollup, kernel-over-rollup composition, and near-dup
    clustering vs their DuckDB twins (same check the driver runs)."""
    import __spark_entry__ as E

    _compare(spark, duck, E.queries()[name], E.oracle_sql()[name])


def test_dedup_clusters_invariants(spark):
    """Oracle-independent semantics: every verified LSH pair is co-
    clustered, the canonical is the cluster's minimum doc_id, and every
    document appears exactly once."""
    from geminigraph_spark.functions import docpipe as D

    clusters = D.dedup_clusters(spark, SF).toPandas()
    pairs = D.dedup_minhash_lsh(spark, SF).toPandas()
    lbl = dict(zip(clusters.doc_id, clusters.cluster_id))
    assert len(clusters) == clusters.doc_id.nunique()
    for a, b in zip(pairs.doc_a, pairs.doc_b):
        assert lbl[a] == lbl[b], (a, b)
    by_cluster = clusters.groupby("cluster_id").doc_id.min()
    canon = clusters[clusters.is_canonical == 1]
    assert set(zip(canon.cluster_id, canon.doc_id)) == set(by_cluster.items())


def test_doc_queries_leave_no_cache_entry(spark):
    """The token vocabulary and the shingle table are local checkpoints,
    not cached frames: running the doc queries leaves the session's
    CacheManager empty."""
    from geminigraph_spark.functions import docpipe as D

    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    for fn in (
        D.doc_fingerprint,
        D.minhash_signatures,
        D.simhash,
        D.dedup_simhash,
        D.dedup_minhash_lsh,
    ):
        fn(spark, SF).collect()
    assert cache.isEmpty()
