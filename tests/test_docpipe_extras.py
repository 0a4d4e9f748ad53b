"""ANN-LSH, multimodal plumbing, and streaming ingest tests."""

import numpy as np
import pandas as pd
import pytest

SF = "/root/testdata/sf0.001"


def test_ann_lsh_recall_and_pruning(spark):
    from geminigraph_spark.functions.docpipe import cosine_topk
    from geminigraph_spark.functions.similarity import ann_lsh_topk, planes_for

    exact = cosine_topk(spark, SF, n_queries=10, k=3).toPandas()
    approx = ann_lsh_topk(spark, SF, n_queries=10, k=3).toPandas()
    e = {(r.query_id, r.neighbor_id) for r in exact.itertuples()}
    a = {(r.query_id, r.neighbor_id) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9  # the ann_recall gate threshold, held in pytest too
    assert len(approx) > 0
    assert approx["sim_ppm"].notna().all()
    # the plane count scales with corpus size: E[bucket] ≈ TARGET_BUCKET_ROWS
    assert planes_for(500) == 4
    assert planes_for(10**9) == 23  # ~8M buckets of ~128 at a billion rows


def test_ann_recall_gate_row(spark):
    from geminigraph_spark.functions.similarity import ann_recall

    row = ann_recall(spark, SF).first()
    assert row["recall_pass"] == 1 and row["n_queries"] == 20


def test_ivf_topk_and_recall_gate(spark):
    """IVF index mechanics (coarse quantizer → inverted lists → probed
    brute force) and its regression gate. Candidates/query is bounded by
    n_probes·√N, so the probed corpus FRACTION shrinks with N."""
    from geminigraph_spark.functions.similarity import ann_ivf_topk, ivf_recall

    ap = ann_ivf_topk(spark, SF).toPandas()
    assert len(ap) > 0 and (ap.groupby("query_id").size() <= 3).all()
    row = ivf_recall(spark, SF).first()
    assert row["recall_pass"] == 1


def test_ivf_quantizer_is_sublinear(spark):
    """VERDICT r2 #1: the coarse quantizer must stay small at any N —
    K = min(√N, 4096) and the trained centroid matrix is exactly (K, dim):
    driver/broadcast bytes are O(√N) capped, never O(N)."""
    from geminigraph_spark.functions.similarity import (
        MAX_CENTROIDS,
        centroids_for,
        clustered_embeddings,
        train_ivf_centroids,
    )

    # K grows as √N (doubling when N quadruples), capped at MAX_CENTROIDS
    for n in (10_000, 1_000_000):
        assert centroids_for(4 * n) <= 2 * centroids_for(n) + 1
    assert centroids_for(10**12) == MAX_CENTROIDS
    assert centroids_for(10**10) == MAX_CENTROIDS

    # trained matrix shape is (K, dim) at two corpus sizes — 4× the rows,
    # ≤2× the centroids, and the per-step driver pull is K mean rows
    for n in (256, 1024):
        e = clustered_embeddings(spark, n)
        cents = train_ivf_centroids(e, n, lloyd_steps=1)
        assert cents.shape == (centroids_for(n), 64)
    assert centroids_for(1024) <= 2 * centroids_for(256)


def test_dedup_simhash_banding_is_lossless(spark):
    """The banded candidate join must find EVERY pair within the Hamming
    threshold (pigeonhole: hamming ≤ 3 < 4 bands ⇒ ≥1 identical band) —
    verified against an in-test brute force over all collected
    fingerprints, plus output invariants (doc_a < doc_b, hamming ≤ 3)."""
    import numpy as np

    from geminigraph_spark.functions.docpipe import (
        SIMHASH64_BITS,
        SIMHASH_MAX_HAMMING,
        _simhash_df,
        dedup_simhash,
    )

    got = dedup_simhash(spark, SF).toPandas()
    assert (got["doc_a"] < got["doc_b"]).all()
    assert (got["hamming"] <= SIMHASH_MAX_HAMMING).all()
    sh = _simhash_df(spark, SF, SIMHASH64_BITS).toPandas()
    ids = sh["doc_id"].values
    vals = sh["simhash"].values.astype(np.int64)
    x = vals[:, None] ^ vals[None, :]
    ham = np.zeros_like(x)
    for b in range(SIMHASH64_BITS):
        ham += (x >> b) & 1
    ii, jj = np.where(np.triu(ham <= SIMHASH_MAX_HAMMING, k=1))
    want = {
        (min(int(ids[i]), int(ids[j])), max(int(ids[i]), int(ids[j])))
        for i, j in zip(ii, jj)
    }
    have = {(int(a), int(b)) for a, b in zip(got["doc_a"], got["doc_b"])}
    assert have == want  # nothing missed, nothing extra


def test_dedup_simhash_every_block_has_live_bits(spark):
    """ADVICE r4 (high): the old 60-bit fingerprint was built from a
    single 31-bit hash, so bits 31-59 were constant for every doc — any
    band combo over those blocks keyed the whole corpus into ONE bucket
    (an N² self-join). With the two-hash 30+30 concatenation every block
    of the fingerprint must show > 1 distinct value on the fixture corpus
    (i.e. no band key can be constant)."""
    import numpy as np

    from geminigraph_spark.functions.docpipe import (
        SIMHASH64_BITS,
        _simhash_df,
        simhash_blocks_for,
    )

    sh = _simhash_df(spark, SF, SIMHASH64_BITS).toPandas()
    vals = sh["simhash"].values.astype(np.int64)
    n_docs = len(vals)
    for nb in (4, 5, 6):
        width = SIMHASH64_BITS // nb
        for i in range(nb):
            block = (vals >> (i * width)) & ((1 << width) - 1)
            distinct = len(np.unique(block))
            assert distinct > 1, (
                f"block {i}/{nb} is constant across {n_docs} docs — "
                "that band's bucket join is the full cross product"
            )
            # and the expected-bucket discipline holds: with live bits the
            # largest single bucket must be far below the corpus size
            _, counts = np.unique(block, return_counts=True)
            assert counts.max() < n_docs


def test_dedup_simhash_combination_banding_invariant(spark):
    """The Manku-style combination banding must yield the IDENTICAL pair
    set at every block count (pigeonhole exactness is B-independent; only
    the bucket-join key width changes), and the size-derived block count
    grows with the corpus so bucket counts track N/128."""
    from geminigraph_spark.functions.docpipe import (
        SIMHASH_MAX_HAMMING,
        dedup_simhash,
        simhash_blocks_for,
    )

    base = None
    for nb in (4, 5, 6):
        got = dedup_simhash(spark, SF, n_blocks=nb).toPandas()
        pairs = {
            (int(a), int(b), int(h))
            for a, b, h in zip(got["doc_a"], got["doc_b"], got["hamming"])
        }
        if base is None:
            base = pairs
        else:
            assert pairs == base, f"n_blocks={nb} changed the pair set"
    assert len(base) > 0
    # key width grows with N: 15-bit keys to ~4M docs, 24-bit to ~2e9,
    # 30-bit to ~1e11, then 42/45-bit
    assert simhash_blocks_for(500) == 4
    assert simhash_blocks_for(2 * 10**9) == 5
    assert simhash_blocks_for(10**11) == 6
    assert simhash_blocks_for(10**13) == 10
    w = 60 // simhash_blocks_for(10**13)
    assert (simhash_blocks_for(10**13) - SIMHASH_MAX_HAMMING) * w >= 42


def test_two_level_router_sublinear_flops_and_exactness():
    """VERDICT r3 #4: the coarse→fine router makes per-vector assignment
    FLOPs O(dim·√K·probes) so K can track √N past the old 4096 cap.
    Measured multiply counts across a 16× centroid-count span grow ≪16×;
    the degenerate path (probes ≥ Kc) is bit-identical to the exhaustive
    matmul; the deployed cost model is sublinear across corpus sizes
    spanning the old cap (1.7×10⁷)."""
    import numpy as np

    from geminigraph_spark.functions.similarity import (
        _two_level_assign,
        build_coarse,
        centroids_for,
        ivf_assign_cost,
    )

    rng = np.random.default_rng(1)
    dim = 64
    flops = {}
    for K in (256, 4096):
        cents = rng.standard_normal((K, dim))
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        coarse, cell_of = build_coarse(cn)
        assert coarse is not None and len(coarse) == int(K**0.5)
        forder = np.argsort(cell_of, kind="stable").astype(np.int64)
        fb = np.searchsorted(cell_of[forder], np.arange(len(coarse) + 1))
        m = rng.standard_normal((100, dim))
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        top, fl = _two_level_assign(m, cn, coarse, forder, fb, 8)
        assert top.shape == (100, 8)
        flops[K] = fl
        # probes ≥ Kc degenerates to the exhaustive matmul, bit-identical
        ex, _ = _two_level_assign(m, cn, None, None, None, 8)
        assert np.array_equal(ex, np.argsort(-(m @ cn.T), axis=1)[:, :8])
    assert flops[4096] < 6 * flops[256]  # 16× the centroids, ≪16× the work
    lo, hi = ivf_assign_cost(10**6), ivf_assign_cost(10**10)
    assert centroids_for(10**10) > 4096  # genuinely past the old cap
    # 10⁴× the corpus: ≪10⁴× assignment work, ~√-growth candidate sets
    assert hi["assign_flops_per_vector"] < 20 * lo["assign_flops_per_vector"]
    assert hi["candidates_per_query"] < 200 * lo["candidates_per_query"]


def test_two_level_assign_empty_cell_fallback():
    """ADVICE r4 low: a row whose probed coarse cells are ALL empty used
    to fall out of the candidate set and be silently assigned fine
    centroid 0 for every slot. Such rows must instead get their true
    exhaustive nearest centroids."""
    import numpy as np

    from geminigraph_spark.functions.similarity import _two_level_assign

    dim = 4
    # two orthogonal coarse directions; EVERY fine centroid lives in cell
    # 0's direction, so cell 1 is empty
    coarse = np.eye(2, dim)
    cn = np.zeros((3, dim))
    cn[:, 0] = 1.0
    cn[0, 1], cn[1, 1], cn[2, 1] = 0.01, 0.02, 0.03
    cn = cn / np.linalg.norm(cn, axis=1, keepdims=True)
    cell_of = np.zeros(len(cn), dtype=np.int64)  # all in cell 0
    forder = np.argsort(cell_of, kind="stable").astype(np.int64)
    fb = np.searchsorted(cell_of[forder], np.arange(len(coarse) + 1))
    # query aligned with cell 1 (its single probe hits the EMPTY cell)
    m = np.array([[0.0, 1.0, 0.0, 0.0]])
    top, _fl = _two_level_assign(m, cn, coarse, forder, fb, 2, coarse_probes=1)
    want = np.argsort(-(m @ cn.T), axis=1)[:, :2]
    assert np.array_equal(top, want), f"fallback gave {top}, want {want}"
    # a mixed batch: covered rows keep their routed answers
    m2 = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    top2, _ = _two_level_assign(m2, cn, coarse, forder, fb, 2, coarse_probes=1)
    assert np.array_equal(
        top2[1], np.argsort(-(m2[1:] @ cn.T), axis=1)[0, :2]
    )


def test_ivf_index_persistence_no_retraining(spark, tmp_path, monkeypatch):
    """VERDICT r4 #6: build the IVF index once (save_ivf_index), then
    query the RELOADED index — identical top-k to the inline path, with
    train_ivf_centroids provably never called at query time (a real
    pipeline separates build and query jobs)."""
    import numpy as np

    from geminigraph_spark.functions import similarity as S

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = e.count()
    idx_path = str(tmp_path / "ivf_index")
    manifest = S.save_ivf_index(e, idx_path, n_rows=n)
    assert manifest["k"] == S.centroids_for(n)

    # the inline reference result, trained with identical determinism
    cents = S.train_ivf_centroids(e, n)
    want = (
        S._ivf_topk_df(e, 20, 3, cents=cents)
        .toPandas()
        .sort_values(["query_id", "rnk"])
        .reset_index(drop=True)
    )

    # query time: ANY training attempt is a failure
    def _boom(*a, **kw):
        raise AssertionError("query path retrained the quantizer")

    monkeypatch.setattr(S, "train_ivf_centroids", _boom)
    queries = e.where("vec_id < 20")
    got = (
        S.ivf_topk_from_index(spark, idx_path, queries, k=3)
        .toPandas()
        .sort_values(["query_id", "rnk"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    for c in ("query_id", "neighbor_id", "rnk", "sim_ppm"):
        assert np.array_equal(got[c].values, want[c].values), c

    # reload alone must round-trip the exact centroid matrix
    cents2, _cands, mf = S.load_ivf_index(spark, idx_path)
    assert np.allclose(cents2, cents, atol=0)
    assert mf["n_rows"] == n


def test_two_level_routed_recall_clustered(spark):
    """End-to-end recall with routing ACTIVE: at N=8000 the clustered
    fixture trains K=89 fine centroids in Kc=9 coarse cells (> 8 probes ⇒
    the router is on, unlike the sf0.01 gate where it degenerates), and
    recall@3 vs the exact cosine baseline still clears 0.9."""
    from geminigraph_spark.functions.docpipe import cosine_topk_df
    from geminigraph_spark.functions.similarity import (
        _ivf_topk_df,
        _recall_gate,
        build_coarse,
        centroids_for,
        clustered_embeddings,
    )
    import numpy as np

    n = 8000
    k = centroids_for(n)
    assert int(k**0.5) > 8  # routing engages at this size
    e = clustered_embeddings(spark, n).persist()
    try:
        e.count()
        exact = cosine_topk_df(e, n_queries=20, k=3)
        approx = _ivf_topk_df(e, 20, 3)
        row = _recall_gate(exact, approx, 20, 3, 0.9).first()
        assert row["recall_pass"] == 1
    finally:
        e.unpersist()


def test_ivf_clustered_gate_has_teeth(spark):
    """VERDICT r2 #4: on a fixture WITH cluster structure (IVF's design
    case) the recall gate holds at ≥0.9."""
    from geminigraph_spark.functions.similarity import ivf_recall_clustered

    row = ivf_recall_clustered(spark, SF).first()
    assert row["recall_pass"] == 1


def test_multimodal_image_roundtrip(spark):
    from geminigraph_spark.functions.multimodal import (
        encode_fake_image,
        image_features,
        resize_image,
    )

    rng = np.random.default_rng(0)
    rows = []
    for i in range(10):
        w, h, c = 8 + i, 6, 3
        px = rng.integers(0, 256, w * h * c, dtype=np.uint8)
        rows.append((i, "image", encode_fake_image(w, h, c, px)))
    assets = spark.createDataFrame(
        pd.DataFrame(rows, columns=["asset_id", "kind", "payload"])
    )
    feats = image_features(assets).toPandas().sort_values("asset_id")
    assert list(feats["width"]) == [8 + i for i in range(10)]
    assert ((feats["mean_intensity"] > 0) & (feats["mean_intensity"] < 255)).all()

    resized = resize_image(assets, factor=2)
    f2 = image_features(resized).toPandas().sort_values("asset_id")
    assert list(f2["width"]) == [(8 + i + 1) // 2 for i in range(10)]


def test_multimodal_real_codec_is_explicit_stub(spark):
    from geminigraph_spark.functions.multimodal import _decode_payload

    with pytest.raises(NotImplementedError):
        _decode_payload(b"\x89PNG....", "png")


def test_multimodal_audio_and_frames(spark):
    from geminigraph_spark.functions.multimodal import (
        audio_features,
        encode_fake_audio,
        frame_sample,
    )

    samples = (np.sin(np.linspace(0, 20, 1000)) * 1000).astype(np.int16)
    assets = spark.createDataFrame(
        pd.DataFrame(
            [(0, "audio", encode_fake_audio(16000, samples))],
            columns=["asset_id", "kind", "payload"],
        )
    )
    a = audio_features(assets).toPandas()
    assert a.iloc[0]["sample_rate"] == 16000
    assert a.iloc[0]["n_samples"] == 1000
    assert a.iloc[0]["rms"] > 0

    video = spark.createDataFrame(
        pd.DataFrame(
            [(1, "video", bytes(range(256)) * 4)], columns=["asset_id", "kind", "payload"]
        )
    )
    frames = frame_sample(video, every_k=4, frame_bytes=64).toPandas()
    assert list(frames["frame_no"]) == [0, 4, 8, 12]


def test_streaming_ingest(spark, tmp_path):
    from geminigraph_spark.sources.pages_fixture import gen_pages_pandas
    from geminigraph_spark.streaming.ingest import link_rate_query, start_edge_ingest

    landing = str(tmp_path / "landing")
    pages = gen_pages_pandas(60)
    spark.createDataFrame(pages.iloc[:30]).write.parquet(landing + "/b0")
    spark.createDataFrame(pages.iloc[30:]).write.parquet(landing + "/b1")

    q = start_edge_ingest(
        spark, landing + "/*", str(tmp_path / "edges"), str(tmp_path / "ck1")
    )
    q.awaitTermination(120)
    edges = spark.read.parquet(str(tmp_path / "edges"))
    from geminigraph_spark.sources.pages_fixture import golden_edges_pandas

    golden = golden_edges_pandas(60)
    assert edges.count() == len(golden)

    q2 = link_rate_query(spark, landing + "/*", str(tmp_path / "ck2"), "rate_t")
    q2.awaitTermination(120)
    rate = spark.sql("select * from rate_t").toPandas()
    # watermark append-mode only emits closed windows; the fixture spans
    # exactly one minute of warc_ts (60 pages, 1s apart) so at least the
    # stream ran and produced a table
    assert "minute" in rate.columns


def test_streaming_dedup_stateful(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: each content hash is
    emitted once per observation with an accumulating duplicate count;
    the final per-hash count equals the hash's total multiplicity across
    ALL micro-batches (state survives batch boundaries)."""
    from geminigraph_spark.sources.pages_fixture import gen_pages_pandas
    from geminigraph_spark.streaming.ingest import start_streaming_dedup

    landing = str(tmp_path / "landing_dd")
    pages = gen_pages_pandas(20)
    # batch 0: pages 0..19; batch 1: pages 5..14 again (cross-batch dups)
    spark.createDataFrame(pages.iloc[:20]).coalesce(1).write.parquet(landing + "/b0")
    dup = pages.iloc[5:15].copy()
    dup["url"] = "zz-" + dup["url"]  # same html → same hash, later url
    spark.createDataFrame(dup).coalesce(1).write.parquet(landing + "/b1")

    q = start_streaming_dedup(
        spark, landing + "/*", str(tmp_path / "ck_dd"), "dedup_t"
    )
    q.awaitTermination(120)
    out = spark.sql("select * from dedup_t").toPandas()
    # update-mode memory sink keeps every emission; per hash the MAX
    # n_copies is the final state, and first_url is state-stable
    final = out.groupby("h").agg(
        n=("n_copies", "max"), first_url=("first_url", "first"), k=("first_url", "nunique")
    )
    assert len(final) == 20  # 20 distinct html payloads
    assert (final["k"] == 1).all()  # first-seen url never changes
    assert int(final["n"].sum()) == 30  # 20 + 10 duplicates
    assert (final["n"].sort_values().values[-10:] == 2).all()
    # first-seen url wins: no winner carries the zz- prefix
    assert not final["first_url"].str.startswith("zz-").any()


def test_streaming_dedup_parquet_sink_compacts(spark, tmp_path):
    """VERDICT r3 #10: the foreachBatch parquet sink is a production
    consumer for the update-mode dedup contract — the appended table holds
    one row per (hash, observing micro-batch), and compact_dedup_parquet
    reduces it to the current state: one row per hash, final counts,
    stable first-seen url. Exercised across ≥2 micro-batches with
    cross-batch duplicates."""
    from geminigraph_spark.sources.pages_fixture import gen_pages_pandas
    from geminigraph_spark.streaming.ingest import (
        compact_dedup_parquet,
        start_streaming_dedup_parquet,
    )

    landing = str(tmp_path / "landing_pq")
    ck = str(tmp_path / "ck_pq")
    out_dir = str(tmp_path / "dedup_pq")
    pages = gen_pages_pandas(20)
    # batch 0: pages 0..19, drained with availableNow
    spark.createDataFrame(pages.iloc[:20]).coalesce(1).write.parquet(landing + "/b0")
    q = start_streaming_dedup_parquet(spark, landing + "/*", ck, out_dir)
    q.awaitTermination(120)
    # batch 1 lands later; restarting from the same checkpoint processes
    # ONLY the new file (exactly-once source progress) against the
    # persisted state store — a true second micro-batch
    dup = pages.iloc[5:15].copy()
    dup["url"] = "zz-" + dup["url"]  # same html → same hash, later url
    spark.createDataFrame(dup).coalesce(1).write.parquet(landing + "/b1")
    q2 = start_streaming_dedup_parquet(spark, landing + "/*", ck, out_dir)
    q2.awaitTermination(120)
    raw = spark.read.parquet(out_dir).toPandas()
    # re-observed hashes were appended once per observing batch
    assert len(raw) > raw["h"].nunique()
    final = compact_dedup_parquet(spark, out_dir).toPandas()
    assert len(final) == 20  # one row per distinct payload
    assert int(final["n_copies"].sum()) == 30  # 20 + 10 duplicates
    assert (final["n_copies"].sort_values().values[-10:] == 2).all()
    assert not final["first_url"].str.startswith("zz-").any()  # first wins


def test_streaming_dedup_hashes_raw_bytes(spark, tmp_path):
    """VERDICT r2 #2: payloads differing only in invalid-UTF-8 bytes must
    NOT collapse — sha2 must hash the raw binary, not a lossy string cast
    (both b"x\\xffy" and b"x\\xfey" cast to "x\\ufffdy")."""
    from geminigraph_spark.streaming.ingest import start_streaming_dedup

    landing = str(tmp_path / "landing_bin")
    ts = pd.Timestamp("2026-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "url": ["http://a/1", "http://a/2", "http://a/3"],
            "warc_ts": [ts, ts, ts],
            "html": [b"x\xffy", b"x\xfey", b"x\xffy"],
            "text": ["", "", ""],
            "lang": ["en", "en", "en"],
        }
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(landing + "/b0")
    q = start_streaming_dedup(
        spark, landing + "/*", str(tmp_path / "ck_bin"), "dedup_bin_t"
    )
    q.awaitTermination(120)
    out = spark.sql("select * from dedup_bin_t").toPandas()
    final = out.groupby("h")["n_copies"].max()
    assert len(final) == 2  # distinct raw bytes → distinct hashes
    assert sorted(final.values) == [1, 2]  # the \xff payload appears twice


def test_streaming_incremental_cc_matches_cold(spark, tmp_path, monkeypatch):
    """Two edge micro-batches through the incremental-CC stream: batch 1
    has two separate components, batch 2 bridges them plus adds a new
    vertex pair. Final published labels must EQUAL cold CC over the full
    accumulated edge table (warm HashMin exactness), and each version
    directory must survive the next batch (immutable, manifest-swapped)."""
    import numpy as np

    from geminigraph_spark.functions.graph_algos import connected_components
    from geminigraph_spark.operators import engine
    from geminigraph_spark.streaming.ingest import (
        read_cc_labels,
        start_incremental_cc,
    )

    landing = str(tmp_path / "edge_landing")
    b0 = [(0, 1), (1, 2), (10, 11)]
    b1 = [(2, 10), (20, 21)]
    spark.createDataFrame(b0, "src long, dst long").coalesce(1).write.parquet(
        landing + "/b0"
    )
    spark.createDataFrame(b1, "src long, dst long").coalesce(1).write.parquet(
        landing + "/b1"
    )
    state = str(tmp_path / "cc_state")
    q = start_incremental_cc(
        spark, landing + "/*", state, str(tmp_path / "ck_cc")
    )
    q.awaitTermination(180)

    got = (
        read_cc_labels(spark, state)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    full = spark.read.parquet(state + "/edges")
    # the reference is the DataFrame kernel, not its in-driver route
    mets = []
    with monkeypatch.context() as mp:
        mp.setattr(engine, "DRIVER_MAX_WORK", -1)
        want = (
            connected_components(full, metrics=mets)
            .toPandas()
            .sort_values("id")
            .reset_index(drop=True)
        )
    assert {m.route for m in mets} == {"dataframe"}
    assert np.array_equal(got["id"].values, want["id"].values)
    assert np.array_equal(got["label"].values, want["label"].values)
    # the bridge merged 0-1-2 with 10-11; the new pair got its own label
    lab = got.set_index("id")["label"].to_dict()
    assert lab[11] == lab[0] == 0
    assert lab[21] == lab[20] == 20
