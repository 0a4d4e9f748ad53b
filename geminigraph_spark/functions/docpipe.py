"""Training-data pipeline operators over the ``documents`` / ``embeddings``
tables: text statistics, quality scoring, language id, fingerprinting,
exact + MinHash-LSH + SimHash dedup, and cosine similarity search.

All hot-path expressions are JVM-side ``pyspark.sql.functions`` (regexp,
arrays, aggregates — whole-stage-codegen'd; no Python UDFs at all in this
module). Every operator has a DuckDB oracle twin in sql_oracles_docs.py
built from the same constants, so semantics are pinned engine-neutrally.

Vocabulary ranking reuses the two-pass distributed ranking from
plans/encode.py (no global window) — at 10^12-doc scale the token
vocabulary is still ~10^8 rows, and this path never funnels it through a
single task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"
STOP_EN = "the|and|of|to|in|is"
STOP_DE = "der|die|das|und|ist|ein"
STOP_FR = "le|la|les|et|est|une"
STOP_ES = "el|los|las|y|es|una"
MINHASH_P = 2_147_483_647
# fixed (a, b) parameters for the k=8 minhash family
MINHASH_PARAMS = [
    (1_103_515_245, 12_345),
    (69_069, 362_437),
    (214_013, 2_531_011),
    (134_775_813, 1),
    (22_695_477, 1_234_567),
    (48_271, 2_147_001),
    (65_539, 404_100_001),
    (999_983, 777_777),
]
FP_MOD = 1_000_003
SIMHASH_BITS = 16
SIMHASH_MULT = 2_654_435_761
#: second independent multiplier (xxHash PRIME32_2) for the WIDE
#: fingerprint: a single (vid·M) % (2³¹−1) hash is < 2³¹, so bits 31-59
#: of a "60-bit" fingerprint built from it are constant −1 contributions
#: for every doc — any band combo selecting only those bits keys the
#: ENTIRE corpus into one bucket (the N² blowup banding exists to
#: prevent) and the real hamming separation is over ~31 bits (ADVICE r4
#: high). The wide hash therefore concatenates two independent 31-bit
#: multiplicative hashes, 30 low bits each: genuinely 60 mixed bits.
SIMHASH_MULT2 = 2_246_822_519
#: the near-dup variant uses a wider fingerprint: 60 bits (not 64 — the
#: sign bit and its neighbors stay clear so the banded SUM can never
#: overflow BIGINT in either engine), 4 bands × 15 bits
SIMHASH64_BITS = 60
#: pigeonhole-exact: hamming ≤ 3 < 4 bands ⇒ the pair agrees on ≥1 whole
#: band, so banded candidate generation misses NOTHING under the
#: threshold — the operator is exact, not approximate (with all 60 bits
#: live, true near-dups land at hamming 0-3 on the sf0.01 corpus while
#: unrelated pairs sit near 30, a wide separation margin)
SIMHASH_MAX_HAMMING = 3
#: expected rows per candidate bucket the block count is sized for — the
#: same size-derived discipline as similarity.planes_for
SIMHASH_TARGET_BUCKET = 128


def simhash_blocks_for(
    n_rows: int, max_hamming: int = SIMHASH_MAX_HAMMING
) -> int:
    """Smallest block count B (divisor of 60, > max_hamming) whose
    Manku-style combination keys — every (B−max_hamming)-subset of the B
    blocks, key width (B−max_hamming)·(60/B) bits — give ≥ n_rows/128
    buckets. A fixed 4-block/15-bit banding caps at 2^15 buckets and goes
    quadratic past ~4M docs; growing B widens the join key (4→15-bit,
    5→24, 6→30, 10→42, 12→45 keys) at the cost of C(B, max_hamming)
    tables per doc (4, 10, 20, 120, 220), keeping expected bucket size
    flat at ANY corpus size. Exactness is preserved at every B: ≤3
    differing bits touch ≤3 blocks, so some (B−3)-subset matches."""
    need = max(1, n_rows // SIMHASH_TARGET_BUCKET)
    for nb in (4, 5, 6, 10, 12, 15):
        width = (nb - max_hamming) * (SIMHASH64_BITS // nb)
        if (1 << width) >= need:
            return nb
    return 15  # 48-bit keys: enough buckets for ~3.6e16 docs
NEARDUP_SAMPLE_MOD = 17
NEARDUP_THRESHOLD_PPM = 250_000
LSH_JACCARD_MIN_PPM = 500_000
SHINGLE_N = 3  # minhash runs on token 3-gram shingles, not raw tokens:
# the synthetic corpus shares a tiny vocabulary, so token-set jaccard is
# ~0.6 between arbitrary docs while shingle jaccard is ~0 — shingles are
# what separates true near-duplicates


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _words(col):
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens, word tokens ([a-z0-9]+ runs), distinct words."""
    d = _docs(spark, sf_dir)
    w = _words(F.col("text"))
    return d.select(
        "doc_id",
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
        .alias("n_ws_tokens"),
        F.size(w).cast("long").alias("n_words"),
        F.size(F.array_distinct(w)).cast("long").alias("n_distinct_words"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / alpha-ratio / stopword-density quality heuristic."""
    d = _docs(spark, sf_dir)
    n_chars = F.length(F.col("text")).cast("long")
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", "")).cast("long")
    n_words = F.size(_words(F.col("text"))).cast("long")
    n_stop = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(rf"\b({STOP_EN})\b"), 0)
    ).cast("long")
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(0.0)
    stop_term = F.least(
        F.lit(1.0),
        F.when(n_words > 0, n_stop.cast("double") * 10.0 / n_words).otherwise(0.0),
    )
    len_term = F.least(F.lit(1.0), n_words.cast("double") / 200.0)
    score = alpha_ratio * 0.4 + stop_term * 0.3 + len_term * 0.3
    return d.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_alpha.alias("n_alpha"),
        n_stop.alias("n_stop"),
        n_words.alias("n_words"),
        F.round(score * 1_000_000).cast("long").alias("score_ppm"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language guesser (deterministic tie order en>de>fr>es)."""
    d = _docs(spark, sf_dir)

    def hits(words: str):
        return F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(rf"\b({words})\b"), 0)
        ).cast("long")

    en, de, fr, es = hits(STOP_EN), hits(STOP_DE), hits(STOP_FR), hits(STOP_ES)
    pred = (
        F.when((en >= de) & (en >= fr) & (en >= es), "en")
        .when((de >= fr) & (de >= es), "de")
        .when(fr >= es, "fr")
        .otherwise("es")
    )
    return d.select(
        "doc_id",
        en.alias("en_hits"),
        de.alias("de_hits"),
        fr.alias("fr_hits"),
        es.alias("es_hits"),
        pred.alias("lang_pred"),
    )


def _token_vocab(toks: DataFrame) -> DataFrame:
    """(tok, vid) — dense rank in lexicographic token order via the
    scalable two-pass ranking (plans/encode.assign_dense_ids).

    Returned as an eager local checkpoint and the ranking's cache is
    released: the vocabulary's blocks go with the query's frames (the
    ContextCleaner reaps them), so a query leaves no cached entry."""
    from ..plans.encode import assign_dense_ids

    v = assign_dense_ids(toks.select(F.col("tok").alias("url")).distinct())
    out = v.select(F.col("url").alias("tok"), F.col("id").alias("vid"))
    out = out.localCheckpoint(eager=True)
    v.unpersist()
    return out


def _doc_tokens(spark: SparkSession, sf_dir: str, positions: bool = False) -> DataFrame:
    d = _docs(spark, sf_dir)
    if positions:
        return d.select(
            "doc_id", F.posexplode(_words(F.col("text"))).alias("pos", "tok")
        )
    return d.select("doc_id", F.explode(_words(F.col("text"))).alias("tok"))


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-weighted rolling hash over vocab-ranked tokens."""
    toks = _doc_tokens(spark, sf_dir, positions=True)
    vocab = _token_vocab(toks)
    term = ((F.col("vid") + 1) * ((F.col("pos") % 31) + 7)) % FP_MOD
    return (
        toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg((F.sum(term) % FP_MOD).cast("long").alias("fingerprint"))
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup groups: representative = min doc_id.

    Groups on sha2(text) so the shuffle key is 32 bytes, not a multi-KB
    document body (hash-then-group; at 100 TB the shuffle would otherwise
    carry the full corpus). SHA-256 collisions are beyond adversarial
    reach for a dedup pipeline, so groups equal exact-text groups — the
    DuckDB oracle groups on the raw text and the gate asserts agreement."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok) where tok is a distinct token 3-gram shingle
    ("a_b_c"); docs with < 3 tokens produce none."""
    toks = _doc_tokens(spark, sf_dir, positions=True)
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = toks.select(
        "doc_id",
        F.concat(
            F.col("tok"),
            F.lit("_"),
            F.lead("tok", 1).over(w),
            F.lit("_"),
            F.lead("tok", 2).over(w),
        ).alias("tok"),
    ).where(F.col("tok").isNotNull())
    return sh.distinct()


JACCARD_PAIR_STRIDE = 7  # exact-jaccard gate pairs: (doc_id, doc_id+7)


def jaccard_ngram(
    spark: SparkSession, sf_dir: str, stride: int = JACCARD_PAIR_STRIDE
) -> DataFrame:
    """Exact token-3-gram-shingle Jaccard over a deterministic linear pair
    sample (a, a+stride) — the standalone exact-similarity operator (the
    LSH dedup uses the same measure on candidate pairs only). The pair
    space is O(|docs|) by construction; at scale the intersection join is
    a plain shuffle join on (pair, shingle). Returns (a, b, jaccard_ppm)
    for every pair where both docs have ≥1 shingle."""
    sh = _doc_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        sh.alias("x")
        .join(
            sh.select((F.col("doc_id") - stride).alias("doc_id"), "tok").alias("y"),
            ["doc_id", "tok"],
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("i"))
        .withColumnRenamed("doc_id", "a")
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(
        (F.col("doc_id") - stride).alias("a"),
        F.col("doc_id").alias("b"),
        F.col("sz").alias("szb"),
    )
    j = F.coalesce(F.col("i"), F.lit(0)) / (
        F.col("sza") + F.col("szb") - F.coalesce(F.col("i"), F.lit(0))
    )
    return (
        sa.join(sb, "a")
        .join(inter, "a", "left")
        .select("a", "b", F.round(j * 1000000).cast("long").alias("jaccard_ppm"))
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, i, sig): k=8 minhash over the distinct shingle set with
    the fixed (a, b) family on vocab-ranked shingle ids."""
    toks = _doc_shingles(spark, sf_dir)
    vocab = _token_vocab(toks)
    params = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(MINHASH_PARAMS)], "i int, a long, b long"
    )
    tv = toks.join(vocab, "tok")
    return (
        tv.crossJoin(F.broadcast(params))
        .groupBy("doc_id", "i")
        .agg(
            F.min((F.col("a") * F.col("vid") + F.col("b")) % MINHASH_P)
            .cast("long")
            .alias("sig")
        )
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs (bands of 2 rows) verified with exact Jaccard
    ≥ LSH_JACCARD_MIN_PPM over distinct token sets."""
    sigs = minhash_signatures(spark, sf_dir)
    bands = (
        sigs.withColumn("band", (F.col("i") / 2).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.sum(
                F.when(F.col("i") % 2 == 0, F.col("sig") * F.lit(MINHASH_P)).otherwise(
                    F.col("sig")
                )
            ).alias("bval")
        )
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bval")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bval")
    cands = (
        a.join(b, ["band", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # read three times below; a local checkpoint, not a cache entry
    toks = _doc_shingles(spark, sf_dir).localCheckpoint(eager=True)
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    inter = (
        cands.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jac_ppm",
            F.round(
                F.col("inter")
                * 1_000_000.0
                / (F.col("sza") + F.col("szb") - F.col("inter"))
            ).cast("long"),
        )
        .where(F.col("jac_ppm") >= LSH_JACCARD_MIN_PPM)
        .select("doc_a", "doc_b", "jac_ppm")
    )
    return jac


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: the keep-one-per-group step a training-data
    pipeline runs after pair generation. MinHash-LSH verified pairs become
    an undirected dup-graph; HashMin connected components (the same
    frontier-restricted kernel the link graph uses, graph_algos.
    connected_components) labels each component with its minimum doc_id;
    docs in no pair are their own singleton cluster. Returns one row per
    document: (doc_id, cluster_id, is_canonical) with is_canonical = 1 on
    the cluster's minimum doc_id — ``WHERE is_canonical = 1`` is the
    deduplicated corpus.

    Scale shape: the pair table is LSH-bucketed (never all-pairs), the CC
    fixpoint converges in O(cluster diameter) supersteps — near-dup
    clusters are shallow (diameter ≤ a few hops) regardless of corpus
    size — and the final assignment is one left join on doc_id. Nothing
    is driver-resident."""
    from .graph_algos import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    labels = connected_components(edges)
    docs = _docs(spark, sf_dir).select("doc_id")
    cluster = F.coalesce(F.col("label"), F.col("doc_id"))
    return docs.join(labels, docs.doc_id == labels.id, "left").select(
        "doc_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("doc_id")).cast("long").alias("is_canonical"),
    )


def _simhash_df(spark: SparkSession, sf_dir: str, bits: int) -> DataFrame:
    """(doc_id, simhash) — ``bits``-wide SimHash over the token-occurrence
    multiset (vocab-ranked ids rehashed with a Knuth multiplier). Widths
    beyond 30 bits use the two-hash concatenation (see SIMHASH_MULT2):
    every one of the ``bits`` positions carries an independent coin flip,
    so no band of dedup_simhash can degenerate to a constant key."""
    toks = _doc_tokens(spark, sf_dir)
    vocab = _token_vocab(toks.distinct())
    h1 = (F.col("vid") * F.lit(SIMHASH_MULT)) % F.lit(MINHASH_P)
    if bits <= 30:
        h = h1
    else:
        h2 = (F.col("vid") * F.lit(SIMHASH_MULT2)) % F.lit(MINHASH_P)
        h = (h1 % F.lit(1 << 30)) * F.lit(1 << 30) + (h2 % F.lit(1 << 30))
    tv = toks.join(vocab, "tok").select("doc_id", h.alias("h"))
    bdf = tv.select(
        "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("b")
    )
    contrib = F.when(F.expr("shiftright(h, b) % 2") == 1, 1).otherwise(-1)
    per_bit = bdf.groupBy("doc_id", "b").agg(F.sum(contrib).alias("s"))
    val = F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(
        F.lit(0)
    )
    return per_bit.groupBy("doc_id").agg(F.sum(val).cast("long").alias("simhash"))


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (the signature operator; the near-dup
    pairing over a wider fingerprint is dedup_simhash)."""
    return _simhash_df(spark, sf_dir, SIMHASH_BITS)


def dedup_simhash(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    n_blocks: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: (doc_a, doc_b, hamming) with
    hamming ≤ ``max_hamming`` over the 60-bit fingerprint.

    Scale shape (Manku/Jain/Sarma-style combination banding): the
    fingerprint splits into B = simhash_blocks_for(N) blocks; candidates
    are pairs agreeing on SOME (B−max_hamming)-subset of blocks — one
    bucket-join key per subset, key width (B−max_hamming)·(60/B) bits,
    sized so expected bucket ≈ SIMHASH_TARGET_BUCKET rows at any corpus
    size (never the N² cross join). The exact Hamming distance is then
    verified with one xor+bit_count per candidate. Pigeonhole makes every
    B lossless: ≤ max_hamming differing bits touch ≤ max_hamming blocks,
    so some subset matches — the result is EXACT and hash-checked against
    a brute-force DuckDB oracle (and pinned identical across B in
    pytest)."""
    from itertools import combinations

    sh = _simhash_df(spark, sf_dir, SIMHASH64_BITS)
    if n_blocks is None:
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        n_blocks = simhash_blocks_for(n_docs, max_hamming)
    width = SIMHASH64_BITS // n_blocks
    block = [
        F.expr(f"shiftright(simhash, {i * width}) % {1 << width}")
        for i in range(n_blocks)
    ]
    combos = list(combinations(range(n_blocks), n_blocks - max_hamming))
    # numeric combo key: the selected blocks packed at distinct offsets
    # (≤48 bits — fits a long); one (band=combo_id, bval=key) row per combo
    entries = [
        F.struct(
            F.lit(ci).alias("band"),
            sum(
                (block[b] * F.lit(1 << (j * width)) for j, b in enumerate(combo)),
                F.lit(0),
            ).cast("long").alias("bval"),
        )
        for ci, combo in enumerate(combos)
    ]
    bands = sh.select(
        "doc_id", "simhash", F.explode(F.array(*entries)).alias("bb")
    ).select("doc_id", "simhash", "bb.band", "bb.bval")
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"), "band", "bval"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"), "band", "bval"
    )
    cand = (
        a.join(b, ["band", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sa", "sb")
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.transform(b, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / (na * nb)


def cosine_topk(spark: SparkSession, sf_dir: str, n_queries: int = 20, k: int = 3) -> DataFrame:
    """Brute-force cosine top-k: queries = vec_id < n_queries vs all
    others. Rank order quantized to 1e-9 for engine-neutral determinism."""
    return cosine_topk_df(_emb(spark, sf_dir), n_queries, k)


def cosine_topk_df(e: DataFrame, n_queries: int = 20, k: int = 3) -> DataFrame:
    """cosine_topk over an arbitrary (vec_id, embedding) DataFrame — the
    exact baseline the ANN recall gates compare against."""
    q = e.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    sims = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine(F.col("qe"), F.col("ce")) * 1e9).cast("long").alias("sim_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_q").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rnk").cast("long").alias("rnk"),
            F.round(F.col("sim_q") / 1000.0).cast("long").alias("sim_ppm"),
        )
    )


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs: cosine ≥ NEARDUP_THRESHOLD_PPM among a
    deterministic sample (vec_id % 17 == 0), blocked by label (the
    LSH/IVF-style bucketing that keeps the pair space linear at scale)."""
    e = _emb(spark, sf_dir).where(F.col("vec_id") % NEARDUP_SAMPLE_MOD == 0)
    a = e.select(F.col("vec_id").alias("va"), F.col("label").alias("lbl"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("label").alias("lbl"), F.col("embedding").alias("eb"))
    return (
        a.join(b, "lbl")
        .where(F.col("va") < F.col("vb"))
        .select(
            "va",
            "vb",
            F.round(_cosine(F.col("ea"), F.col("eb")) * 1_000_000).cast("long").alias("sim_ppm"),
        )
        .where(F.col("sim_ppm") >= NEARDUP_THRESHOLD_PPM)
    )
