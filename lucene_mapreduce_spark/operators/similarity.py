"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Brute-force cosine top-k is the exactness baseline (fully built-in
expressions: zip_with + aggregate, JVM-side); the LSH paths are the
10^12-row scale shape: random-hyperplane signatures bucket the vectors, a
query touches only its (multi-probed) buckets, and candidate generation is
a key-equality join — never a cross join or a full-table broadcast.

Determinism contract: hyperplane signs are a CONSTANT md5-derived matrix
(sign of plane i, component j = first hex digit of md5("i:j")), materialized
as literals on both engines; every floating-point sum (plane dot products,
cosines) folds sequentially in component order (Spark `aggregate`, SQL
explicit +-chains), so the DuckDB oracle reproduces bucket membership and
scores bit-for-bit — the LSH entries are hash-checked, not rows-only.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lucene_mapreduce_spark.operators.parity import load
from lucene_mapreduce_spark.query.bm25_df import canonical_sum

QUERY_VEC_ID = 0  # the fixed query vector for the oracle-checked entries
DIM = 64

# ann_lsh_topk: multi-table, multi-probe hyperplane LSH
ANN_TABLES = 4
ANN_PLANES = 16  # bits per table -> 65,536 buckets/table at any corpus size
ANN_PROBE_HAMMING = 2  # probe all buckets within hamming<=2 of the query's

# embedding_near_dup_pairs: banded blocking
NDUP_BANDS = 16
NDUP_PLANES_PER_BAND = 8  # 256 bucket values/band; cap bounds degenerate ones
NDUP_MAX_BUCKET = 50
_NDUP_PLANE_BASE = 1000  # plane-index namespace separate from ann tables


def plane_signs(plane_idx: int, dim: int = DIM) -> list[float]:
    """The shared +-1 hyperplane matrix: sign(i, j) from the first hex digit
    of md5("i:j"). Pure constants — evaluated once at plan build, never per
    row; the DuckDB oracle embeds the identical literals."""
    return [
        1.0
        if hashlib.md5(f"{plane_idx}:{j}".encode()).hexdigest()[0] in "01234567"
        else -1.0
        for j in range(dim)
    ]


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def _plane_bit(vec_col, plane_idx: int):
    """'1'/'0' from the sequential-fold dot product of vec with plane
    plane_idx's literal sign vector."""
    signs = F.array(*[F.lit(s) for s in plane_signs(plane_idx)])
    dot = F.aggregate(
        F.zip_with(vec_col, signs, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    return F.when(dot > 0, F.lit("1")).otherwise(F.lit("0"))


def _table_sig(vec_col, table: int, n_planes: int = ANN_PLANES):
    """Bit-string signature of one LSH table (planes table*n .. table*n+n-1)."""
    return F.concat(*[_plane_bit(vec_col, table * n_planes + p) for p in range(n_planes)])


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Exact cosine top-k of every vector vs the fixed query vector
    (vec_id=0). The query vector is broadcast; the scan stays JVM-side
    (zip_with/aggregate — no UDF)."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _cosine(
                    F.col("embedding").cast("array<double>"),
                    F.col("qvec").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    # TakeOrderedAndProject top-k — never a single-partition global window
    # over the whole corpus (parity.ranked_topk)
    return ranked_topk(
        scored, [F.desc("cosine"), F.asc("vec_id")], k
    ).select("vec_id", "cosine", "rank")


ANN_BATCH_MOD = 101


def ann_batch_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, qmod: int = ANN_BATCH_MOD
) -> DataFrame:
    """Batch exact ANN: cosine top-k for EVERY query vector of a probe
    batch (the deterministic vec_id % qmod == 0 slice stands in for the
    reference's daily probe file). The query batch broadcasts against one
    corpus scan; per-query ranking is a WindowGroupLimit-pushed window
    partitioned by query — queries score in parallel, no per-query jobs.
    At 10^12 rows the same plan holds with the LSH/IVF candidate
    generation swapped in front of the scoring join."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % qmod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                _cosine(
                    F.col("embedding").cast("array<double>"),
                    F.col("qvec").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def _probe_sigs(qbits: str, max_hamming: int) -> list[str]:
    """All bit-strings within hamming<=max_hamming of qbits (multi-probe)."""
    from itertools import combinations

    n = len(qbits)
    out = [qbits]
    flip = {"0": "1", "1": "0"}
    for h in range(1, max_hamming + 1):
        for idxs in combinations(range(n), h):
            b = list(qbits)
            for i in idxs:
                b[i] = flip[b[i]]
            out.append("".join(b))
    return out


def ann_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    n_tables: int = ANN_TABLES,
    n_planes: int = ANN_PLANES,
    probe_hamming: int = ANN_PROBE_HAMMING,
) -> DataFrame:
    """Approximate cosine top-k via multi-table, multi-probe hyperplane LSH.

    Scale shape (10^12 rows): each vector owns n_tables 16-bit signatures
    (65,536 buckets per table — bucket population ~N/65k, never quadratic);
    a query expands to the ~548 probe keys within hamming<=2 per table,
    which BROADCAST-join the signature table (key-equality bucket lookup, a
    directory probe when signatures are persisted partitioned by (table,
    sig)); only bucket members are scored exactly. Every returned cosine is
    exact; which rows appear is determined by the fixed md5 plane matrix —
    the DuckDB oracle reproduces the exact row set (hash-checked).
    """
    emb = load(spark, sf_dir, "embeddings")
    vec = F.col("embedding").cast("array<double>")
    sig_arr = F.array(*[_table_sig(vec, t, n_planes) for t in range(n_tables)])
    with_sig = emb.select(
        "vec_id", "embedding", F.posexplode(sig_arr).alias("t", "sig")
    )

    # query signatures + probe expansion (driver-side on the tiny query row)
    qrow = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            F.col("embedding").alias("qvec"),
            *[_table_sig(vec, t, n_planes).alias(f"sig{t}") for t in range(n_tables)],
        )
        .collect()[0]
    )
    probes = [
        (t, p)
        for t in range(n_tables)
        for p in _probe_sigs(qrow[f"sig{t}"], probe_hamming)
    ]
    probe_df = spark.createDataFrame(probes, "t int, sig string")

    cand = (
        with_sig.join(F.broadcast(probe_df), ["t", "sig"], "left_semi")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", "embedding")
        .distinct()
    )
    qvec = F.array(*[F.lit(float(x)) for x in qrow["qvec"]])
    scored = cand.select(
        "vec_id", F.round(_cosine(vec, qvec), 6).alias("cosine")
    )
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    return ranked_topk(
        scored, [F.desc("cosine"), F.asc("vec_id")], k
    ).select("vec_id", "cosine", "rank")


def embedding_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.35,
    n_bands: int = NDUP_BANDS,
    planes_per_band: int = NDUP_PLANES_PER_BAND,
    max_bucket: int = NDUP_MAX_BUCKET,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH-band blocking.

    Candidates = pairs sharing at least one band signature (n_bands bands of
    planes_per_band hyperplane bits each), generated by a self-equi-join on
    (band, band_key) — never a cross join, never a full-table broadcast.
    Degenerate buckets (> max_bucket members: the all-zeros cluster, dead
    embeddings) are dropped before the join, so per-bucket candidate counts
    are bounded at any corpus size. Survivors are verified with the exact
    sequential-fold cosine.

    Banding is probabilistic recall (92% at cosine 0.45 with 16x8; >99.9%
    in the real near-dup regime cosine>=0.9 — raise planes_per_band to 16
    there for sharper blocking). The row set is deterministic given the md5
    plane matrix, so the DuckDB oracle reproduces it exactly.
    """
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    band_arr = F.array(
        *[
            F.concat(
                *[
                    _plane_bit(F.col("v"), _NDUP_PLANE_BASE + b * planes_per_band + p)
                    for p in range(planes_per_band)
                ]
            )
            for b in range(n_bands)
        ]
    )
    banded = emb.select(
        "vec_id", "v", F.posexplode(band_arr).alias("band", "band_key")
    )
    # cap: drop degenerate buckets before the self-join (skew bound)
    bucket_n = Window.partitionBy("band", "band_key")
    banded = (
        banded.withColumn("bn", F.count(F.lit(1)).over(bucket_n))
        .filter(F.col("bn") <= max_bucket)
        .drop("bn")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.v").alias("va"),
            F.col("b.v").alias("vb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return (
        cand.select(
            "vec_a",
            "vec_b",
            F.round(_cosine(F.col("va"), F.col("vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# semdedup: centroid-clustered semantic dedup
SEMDEDUP_THRESHOLD = 0.4  # intra-cluster cosine at/above which docs are dups
SEMDEDUP_MAX_CLUSTER = 1000  # deterministic per-cluster participation cap


def semdedup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = SEMDEDUP_THRESHOLD,
    max_cluster: int = SEMDEDUP_MAX_CLUSTER,
    c: int | None = None,
    target_list_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    cluster the corpus with a coarse quantizer, compare embeddings only
    WITHIN a cluster, and keep one representative per near-duplicate
    relation.  Complements the LSH banding path (embedding_near_dup_pairs):
    data-adaptive clusters catch paraphrase-level dups that fixed
    hyperplanes shear apart.  Returns one row per participating vector:
    (vec_id, list_id, n_dups, keep) with keep = false iff some same-cluster
    vector with a SMALLER vec_id matches at >= threshold (deterministic
    lowest-id-wins representative, engine-portable).

    Plan shape: cluster assignment reuses the IVF coarse quantizer
    (zero-shuffle codegen projection for small codebooks, Arrow matmul
    kernel past ivf._INLINE_ASSIGN_MAX); the only self-join is the
    intra-cluster pair join keyed on list_id.  The cluster count is
    ivf.n_centroids(count) = max(16, N // target_list_size), so C grows
    linearly with the corpus (SemDeDup's C ~ N/10^3..10^4 recipe), holding
    cluster size — and so per-cluster pair cost AND the participation
    fraction under `max_cluster` — constant as N grows (asserted by
    test_ivf's doubling test); the rank cap only bounds the degenerate
    case where a cluster collapses.  Cosines fold sequentially and compare
    at 6-dp rounding on both engines, so the verdict is hash-exact (the
    gate runs at the C=16 floor).  LLM-pipeline surface beyond the
    reference."""
    from lucene_mapreduce_spark.operators.ivf import (
        TARGET_LIST_SIZE,
        _cosine_guarded,
        assign_lists,
    )

    a = assign_lists(
        spark,
        sf_dir,
        c=c,
        target_list_size=(
            TARGET_LIST_SIZE if target_list_size is None else target_list_size
        ),
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "list_id"
    )
    w = Window.partitionBy("list_id").orderBy("vec_id")
    capped = (
        a.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_cluster)
        .drop("rn")
    )
    left = capped.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), "list_id"
    )
    right = capped.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), "list_id"
    )
    pairs = (
        left.join(right, "list_id")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(_cosine_guarded(F.col("va"), F.col("vb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )
    sym = pairs.select(
        F.col("vec_a").alias("vec_id"), F.col("vec_b").alias("nbr")
    ).unionByName(
        pairs.select(F.col("vec_b").alias("vec_id"), F.col("vec_a").alias("nbr"))
    )
    stats = sym.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_dups"), F.min("nbr").alias("min_nbr")
    )
    return (
        capped.join(stats, "vec_id", "left")
        .select(
            "vec_id",
            "list_id",
            F.coalesce("n_dups", F.lit(0)).cast("long").alias("n_dups"),
            (
                F.col("n_dups").isNull() | (F.col("min_nbr") > F.col("vec_id"))
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------- hybrid RRF
RRF_K = 60  # the standard reciprocal-rank-fusion constant (Cormack 2009)
RRF_DEPTH = 50  # fusion depth per retriever


def rrf_fusion(
    spark: SparkSession, sf_dir: str, k: int = 10, depth: int = RRF_DEPTH
) -> DataFrame:
    """Hybrid retrieval: the BM25 lexical top-`depth` (flagship query via
    the real index path) and the exact-cosine vector top-`depth` (the
    fixed vec_id=0 probe shared with the ANN gates; embeddings.vec_id is
    documents.doc_id's embedding row) fused by Reciprocal Rank Fusion:
    score(d) = sum over lists of 1/(RRF_K + rank_d) — the standard
    training-pipeline blend of sparse and dense retrieval (Cormack,
    Clarke & Buettcher 2009, public).

    Both retrievers already rank through TakeOrderedAndProject paths; the
    fusion itself is a tiny (2*depth rows max) full-outer join, so every
    float here is one add of two exactly-representable reciprocals —
    deterministic with no accumulation machinery."""
    from lucene_mapreduce_spark.operators import fulltext
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    lex = fulltext.bm25_index_topk_documents(
        spark, sf_dir, k=depth
    ).select("doc_id", F.col("rank").alias("lrank"))
    vec = ann_bruteforce_topk(spark, sf_dir, k=depth).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("vrank")
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("lrank")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(RRF_K) + F.col("vrank")), F.lit(0.0)
                ),
                6,
            ).alias("rrf"),
        )
    )
    return ranked_topk(fused, [F.desc("rrf"), F.asc("doc_id")], k).select(
        "doc_id", "rrf", "rank"
    )


def ann_recall_at_k(spark: SparkSession, sf_dir: str, k: int = 5) -> DataFrame:
    """Self-evaluating ANN quality gate: recall@k of the IVF-probed path
    against the exact brute-force batch, per query — the measurement a
    100-TB vector deployment runs continuously (approximate serving path
    + a sampled exact audit). Both legs are the existing distributed
    batch operators; the comparison is one (query, vec) semi-join and a
    per-query count, so audit cost is k·|probe batch|, independent of
    corpus size. recall is exact-rational (n_hits/k) rounded 6dp."""
    from lucene_mapreduce_spark.operators.ivf import ann_ivf_batch_topk

    brute = ann_batch_topk(spark, sf_dir, k=k).select("query_id", "vec_id")
    ivf = ann_ivf_batch_topk(spark, sf_dir, k=k).select("query_id", "vec_id")
    hits = ivf.join(brute, ["query_id", "vec_id"], "left_semi")
    per_q = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    qs = brute.select("query_id").distinct()
    return (
        qs.join(per_q, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.lit(float(k)),
                6,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


FILTERED_ANN_LABEL = 3


def filtered_ann_topk(
    spark: SparkSession,
    sf_dir: str,
    label: int = FILTERED_ANN_LABEL,
    k: int = 10,
) -> DataFrame:
    """Filtered vector search (ES kNN `filter` / pre-filtered ANN): exact
    cosine top-k restricted to vectors whose metadata label matches —
    the filter applies BEFORE scoring (pre-filter semantics, so the
    result always has k matching vectors; post-filtering an unfiltered
    top-k can starve). The label predicate is a plain column filter that
    pushes to the parquet scan (PushedFilters), then the same broadcast
    query + JVM zip_with scoring as the unfiltered path. At scale the
    filter composes with IVF list pruning — candidate lists are scanned
    WITH the pushed predicate."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        emb.filter((F.col("label") == label) & (F.col("vec_id") != QUERY_VEC_ID))
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _cosine(
                    F.col("embedding").cast("array<double>"),
                    F.col("qvec").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    return ranked_topk(
        scored, [F.desc("cosine"), F.asc("vec_id")], k
    ).select("vec_id", "cosine", "rank")


HYBRID_ALPHA = 0.5
HYBRID_DEPTH = 20


def hybrid_linear_fusion(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    depth: int = HYBRID_DEPTH,
    alpha: float = HYBRID_ALPHA,
) -> DataFrame:
    """Hybrid retrieval, score-based: min-max-normalize the BM25 top-depth
    and the cosine top-depth onto [0, 1] and blend linearly —
    score = α·norm_lex + (1-α)·norm_vec, absent list → 0 (the
    normalization ES calls `min_max` in hybrid/linear retrievers; the
    rank-based twin is rrf_fusion). Each list is depth rows, so min/max
    are broadcast scalars and the fusion join is KB-sized; normalization
    runs on the 6dp-rounded leg scores so both engines see identical
    inputs."""
    from lucene_mapreduce_spark.operators import fulltext
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    lex = fulltext.bm25_index_topk_documents(spark, sf_dir, k=depth).select(
        "doc_id", F.col("score").alias("lscore")
    )
    vec = ann_bruteforce_topk(spark, sf_dir, k=depth).select(
        F.col("vec_id").alias("doc_id"), F.col("cosine").alias("vscore")
    )

    def norm(df: DataFrame, col: str) -> DataFrame:
        mm = df.agg(
            F.min(col).alias("mn"), F.max(col).alias("mx")
        )
        return df.crossJoin(F.broadcast(mm)).select(
            "doc_id",
            F.when(F.col("mx") == F.col("mn"), F.lit(1.0))
            .otherwise((F.col(col) - F.col("mn")) / (F.col("mx") - F.col("mn")))
            .alias(f"n_{col}"),
        )

    fused = (
        norm(lex, "lscore")
        .join(norm(vec, "vscore"), "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.lit(alpha) * F.coalesce("n_lscore", F.lit(0.0))
                + F.lit(1.0 - alpha) * F.coalesce("n_vscore", F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    return ranked_topk(fused, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table quality audit (the pre-ANN sanity pass of a
    training pipeline: degenerate norms signal a broken encoder): per
    label, the vector count and the min/mean/max L2 norm. Norms fold
    sequentially in component order (the module's determinism contract —
    DuckDB's list_dot_product matches bit-for-bit); per-vector norms are
    6dp-rounded, the mean accumulates them as DECIMAL(18,6) so the
    rollup is order-free exact at any parallelism. One combinable
    groupBy over the embeddings scan."""
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x
            )
        ),
        6,
    )
    base = emb.select("label", norm.alias("norm"))
    return (
        base.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("norm").alias("min_norm"),
            F.round(
                F.sum(F.col("norm").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_norm"),
            F.max("norm").alias("max_norm"),
        )
        .orderBy("label")
    )


PQ_M = 4  # subspaces
PQ_SUBDIM = 16  # dims per subspace (DIM / PQ_M)
PQ_K = 16  # codewords per subspace
PQ_TOPK = 10


def ann_pq_topk(
    spark: SparkSession, sf_dir: str, k: int = PQ_TOPK
) -> DataFrame:
    """Product-quantization ANN (Jégou, Douze, Schmid 2011 — the PQ/ADC
    paper; completes the ANN family next to brute / hyperplane-LSH /
    IVF-Flat): each vector is encoded as PQ_M 4-bit codes (argmin-L2
    codeword per 16-dim subspace against a deterministic codebook — the
    subvectors of vec_id 1..PQ_K, the IVF-init convention), and query
    distance is ADC: one PQ_M x PQ_K lookup table from the query, approx
    dist = sum of per-subspace table entries. Exact L2 rides alongside as
    the audit column (the ann_recall_at_k pattern).

    Determinism: every subspace distance is a SEQUENTIAL ascending-dim
    fold rounded 6dp before the argmin (ties -> lowest codeword id); the
    ADC sum folds ascending-m. Scale shape: encode cost is the standard
    N x K x M broadcast-codebook map (no shuffle); at 10^12 vectors the
    codes table is 2 bytes/vector — the point of PQ — and the rank cut is
    one WindowGroupLimit top-k."""
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = emb.where(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= PQ_K)
    ).select(F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv"))
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))

    def subdist(vcol, ccol):
        dims = F.sequence(
            F.col("m") * PQ_SUBDIM + 1, (F.col("m") + 1) * PQ_SUBDIM
        )
        return F.round(
            F.aggregate(
                dims,
                F.lit(0.0),
                lambda acc, d: acc
                + (F.element_at(vcol, d) - F.element_at(ccol, d))
                * (F.element_at(vcol, d) - F.element_at(ccol, d)),
            ),
            6,
        )

    tri = (
        emb.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "m",
            "cid",
            subdist(F.col("v"), F.col("cv")).alias("d"),
        )
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("d"), F.asc("cid"))
    codes = (
        tri.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "m", "cid")
    )
    qtab = tri.where(F.col("vec_id") == QUERY_VEC_ID).select(
        "m", "cid", F.col("d").alias("qd")
    )
    adc = (
        codes.join(F.broadcast(qtab), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.round(canonical_sum("qd", "m"), 6).alias("approx_dist"))
    )
    qv = emb.where(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    exact = emb.crossJoin(F.broadcast(qv)).select(
        "vec_id",
        F.round(
            F.aggregate(
                F.sequence(F.lit(1), F.lit(PQ_M * PQ_SUBDIM)),
                F.lit(0.0),
                lambda acc, d: acc
                + (F.element_at(F.col("v"), d) - F.element_at(F.col("qv"), d))
                * (F.element_at(F.col("v"), d) - F.element_at(F.col("qv"), d)),
            ),
            6,
        ).alias("exact_dist"),
    )
    scored = adc.join(exact, "vec_id").where(F.col("vec_id") != QUERY_VEC_ID)
    return ranked_topk(
        scored, [F.asc("approx_dist"), F.asc("vec_id")], k
    ).select("vec_id", "approx_dist", "exact_dist", "rank")


RESCORE_DEPTH = 50
RESCORE_TOPK = 10


def cosine_rescore_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = RESCORE_TOPK,
    depth: int = RESCORE_DEPTH,
) -> DataFrame:
    """Retrieve-then-rerank (the semantic-rescore pipeline ES ships as a
    `rescorer` with a vector similarity, and every RAG stack runs at
    serving time): BM25 selects the top-`depth` lexical candidates —
    ranked on the UNROUNDED score, the index path's cut, same rule as
    hybrid_linear_fusion — then the candidate set alone is re-ranked by
    embedding cosine against the fixed query vector (vec_id=0, the
    module's query-by-example contract; the query doc itself may appear
    and tops the list at cosine 1.0, which is the honest self-match).
    At 100 TB the expensive leg is the lexical top-depth (index-pruned);
    the rescore touches exactly `depth` vectors — a broadcast-sized
    join, never a corpus scan."""
    from lucene_mapreduce_spark.operators import fulltext
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    cand = fulltext.bm25_index_topk_documents(spark, sf_dir, k=depth).select(
        "doc_id"
    )
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    rescored = (
        emb.join(F.broadcast(cand), emb.vec_id == cand.doc_id)
        .crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.round(
                _cosine(
                    F.col("embedding").cast("array<double>"),
                    F.col("qvec").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    return ranked_topk(
        rescored, [F.desc("cosine"), F.asc("doc_id")], k
    ).select("doc_id", "cosine", "rank")


def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid audit: vector count, centroid L2 norm,
    and cosine(label centroid, global centroid) — the cluster-separation
    / drift report an embedding-space curation pass publishes (a label
    whose centroid collapses onto the global mean carries no signal; a
    norm near 0 means the label's vectors cancel). Determinism: per-dim
    component sums accumulate 6dp-rounded values as DECIMAL(18,6) —
    order-free exact at any parallelism (the embedding_norm_stats rule;
    a raw float sum over rows would be partition-order-dependent) — and
    the 64-dim dot/norm folds run in ascending dimension order via the
    sorted-struct aggregate. Shuffle shape: one posexplode groupBy keyed
    (label, dim) — label x 64 rows — then bounded rollups."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "label",
        F.col("pos").alias("dim"),
        F.round("col", 6).cast("decimal(18,6)").alias("v"),
    )
    per = comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("s"),
    )
    # centroid component: exact decimal sum cast to double, then divide
    # (the DECIMAL mean rule)
    m = per.select(
        "label", "dim", (F.col("s").cast("double") / F.col("n")).alias("m")
    )
    g = (
        per.groupBy("dim")
        .agg(
            F.sum("n").cast("long").alias("ng"),
            F.sum("s").alias("sg"),
        )
        .select("dim", (F.col("sg").cast("double") / F.col("ng")).alias("g"))
    )
    folded = (
        m.join(F.broadcast(g), "dim")
        .groupBy("label")
        .agg(
            F.sort_array(F.collect_list(F.struct("dim", "m", "g"))).alias("ds")
        )
        .select(
            "label",
            F.aggregate(
                "ds", F.lit(0.0), lambda acc, x: acc + x["m"] * x["g"]
            ).alias("dot"),
            F.sqrt(
                F.aggregate(
                    "ds", F.lit(0.0), lambda acc, x: acc + x["m"] * x["m"]
                )
            ).alias("norm_m"),
            F.sqrt(
                F.aggregate(
                    "ds", F.lit(0.0), lambda acc, x: acc + x["g"] * x["g"]
                )
            ).alias("norm_g"),
        )
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    return (
        counts.join(folded, "label")
        .select(
            "label",
            "n_vecs",
            F.round("norm_m", 6).alias("centroid_norm"),
            F.round(
                F.col("dot") / (F.col("norm_m") * F.col("norm_g")), 6
            ).alias("cos_to_global"),
        )
        .orderBy("label")
    )


MMR_LAMBDA = 0.7
MMR_DEPTH = 50
MMR_K = 5
RBO_P = 0.9
RBO_DEPTH = 20


def mmr_diversified_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = MMR_K,
    depth: int = MMR_DEPTH,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    over the cosine top-`depth` candidates: greedily pick k vectors
    maximizing  λ·rel − (1−λ)·max_sim_to_selected  — the diversified
    retrieval every RAG serving stack runs to avoid k near-identical
    passages. Distribution split: candidate generation AND the
    depth×depth candidate similarity matrix are Spark scans/joins
    (rounded 6dp, the engine's float contract); the k-step greedy runs on
    the collected depth-bounded matrix — inherently sequential,
    serving-time, O(k·depth) on ≤ depth(depth−1) rows, the same bounded-
    collect class as the pagination cursors. Rank-1 score is the pure
    relevance (no selected set yet), matching the unrolled SQL twin."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(
                _cosine(
                    F.col("embedding").cast("array<double>"),
                    F.col("qvec").cast("array<double>"),
                ),
                6,
            ).alias("rel"),
        )
    )
    cand = ranked_topk(scored, [F.desc("rel"), F.asc("vec_id")], depth).select(
        "vec_id", "embedding", "rel"
    )
    a = cand.alias("a")
    b = cand.alias("b")
    sims = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.round(
                _cosine(
                    F.col("a.embedding").cast("array<double>"),
                    F.col("b.embedding").cast("array<double>"),
                ),
                6,
            ).alias("s"),
        )
    )
    rel = {int(r["vec_id"]): float(r["rel"]) for r in cand.select("vec_id", "rel").collect()}
    sim = {(int(r["va"]), int(r["vb"])): float(r["s"]) for r in sims.collect()}
    selected: list[tuple[int, float]] = []
    chosen: list[int] = []
    for step in range(k):
        best = None
        for v in sorted(rel):
            if v in chosen:
                continue
            if not chosen:
                score = rel[v]
            else:
                score = lam * rel[v] - (1.0 - lam) * max(
                    sim[(v, c)] for c in chosen
                )
            if best is None or score > best[1] or (score == best[1] and v < best[0]):
                best = (v, score)
        chosen.append(best[0])
        selected.append((step + 1, best[0], round(best[1], 6)))
    return spark.createDataFrame(
        selected, "rank INT, vec_id BIGINT, mmr DOUBLE"
    )


def rank_biased_overlap(
    spark: SparkSession,
    sf_dir: str,
    p: float = RBO_P,
    depth: int = RBO_DEPTH,
) -> DataFrame:
    """Truncated rank-biased overlap (Webber, Moffat & Zobel 2010)
    between the lexical (BM25) and vector (cosine) top-`depth` rankings
    — the list-agreement metric a hybrid-retrieval tuner watches (RBO→1
    means the vector leg adds nothing; RBO→0 means fusion is load-
    bearing):  RBO@D = (1−p) Σ_{d=1..D} p^{d−1} · |A_d ∩ B_d| / d.
    The geometric weights are PYTHON literals embedded in both engines
    (pow() is not correctly-rounded cross-engine — the axiomatic_topk
    rule); overlaps are integers from one depth-bounded join; the final
    fold is ascending-d sequential, rounded 6dp."""
    from lucene_mapreduce_spark.operators import fulltext

    lex = fulltext.bm25_index_topk_documents(spark, sf_dir, k=depth).select(
        F.col("doc_id").alias("id"), F.col("rank").alias("ra")
    )
    vec = ann_bruteforce_topk(spark, sf_dir, k=depth).select(
        F.col("vec_id").alias("id"), F.col("rank").alias("rb")
    )
    j = lex.join(vec, "id")
    depths = spark.createDataFrame(
        [(d, (1.0 - p) * p ** (d - 1)) for d in range(1, depth + 1)],
        "d INT, w DOUBLE",
    )
    ov = (
        j.crossJoin(F.broadcast(depths))
        .filter((F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")))
        .groupBy("d", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("ov"))
    )
    # absent depths have overlap 0 — contribute nothing; fold ascending d
    folded = ov.agg(
        F.round(
            F.aggregate(
                F.sort_array(F.collect_list(F.struct("d", "w", "ov"))),
                F.lit(0.0),
                lambda acc, x: acc + x["w"] * x["ov"].cast("double") / x["d"].cast("double"),
            ),
            6,
        ).alias("rbo")
    )
    return folded.select(
        F.lit(depth).cast("int").alias("depth"),
        F.lit(p).alias("p"),
        "rbo",
    )


VPRF_FEEDBACK_K = 3
VPRF_TOPK = 10


def vector_prf_topk(
    spark: SparkSession,
    sf_dir: str,
    fb_k: int = VPRF_FEEDBACK_K,
    k: int = VPRF_TOPK,
) -> DataFrame:
    """Vector pseudo-relevance feedback (the embedding twin of
    rocchio_prf_topk): retrieve the cosine top-fb_k for the fixed query
    vector, recenter the query on the mean of {query} ∪ feedback, and
    re-search the corpus with the expanded vector — the query-drift
    trick dense-retrieval stacks use where Rocchio used term weights.
    Determinism: the new query vector's components are DECIMAL(18,6)
    sums of 6dp-rounded components divided once in float64 (order-free
    exact — the embedding_centroid rule); it is a 64-value bounded
    collect (the centroid-table class) re-entering the plan as literals,
    so the corpus re-scan stays one distributed cosine pass with the
    sequential fold."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    first = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(
                _cosine(
                    F.col("embedding").cast("array<double>"),
                    F.col("qvec").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    fb = ranked_topk(first, [F.desc("cosine"), F.asc("vec_id")], fb_k).select(
        "vec_id"
    )
    pool = fb.unionByName(
        emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("vec_id")
    )
    comps = (
        emb.join(F.broadcast(pool), "vec_id")
        .select(F.posexplode(F.col("embedding").cast("array<double>")))
        .select(
            F.col("pos").alias("dim"),
            F.round("col", 6).cast("decimal(18,6)").alias("v"),
        )
        .groupBy("dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).cast("long").alias("n"))
        .select("dim", (F.col("s").cast("double") / F.col("n")).alias("m"))
        .orderBy("dim")
    )
    qnew = [float(r["m"]) for r in comps.collect()]  # 64 values, bounded
    qlit = F.array(*[F.lit(v) for v in qnew])
    rescored = emb.filter(F.col("vec_id") != QUERY_VEC_ID).select(
        "vec_id",
        F.round(
            _cosine(F.col("embedding").cast("array<double>"), qlit), 6
        ).alias("cosine"),
    )
    return ranked_topk(rescored, [F.desc("cosine"), F.asc("vec_id")], k).select(
        "vec_id", "cosine", "rank"
    )


def int8_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8) quantization error audit: quantize every embedding
    component to 256 levels on a per-dimension [min, max] grid (the
    scheme int8-HNSW / faiss SQ8 serve with), dequantize, and report the
    per-label reconstruction MSE — the go/no-go read before shipping a
    quantized ANN index (ann_pq_topk audits the PQ variant's RANKING,
    this audits SQ's GEOMETRY). Per-dim min/max are order-free
    selections; the quantize-dequantize chain is fixed IEEE on identical
    operands (code = round((v−mn)/scale), deq = mn + code·scale, scale
    degeneracy guarded); per-vector MSE folds in ascending dim order,
    rounds 6dp, and rolls up per label as DECIMAL (order-free). Shuffles:
    one 64-row dim-stats groupBy + one per-vector fold groupBy."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>")),
    ).select("vec_id", "label", F.col("pos").alias("dim"), F.col("col").alias("v"))
    dimstats = comp.groupBy("dim").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
    j = comp.join(F.broadcast(dimstats), "dim")
    deq = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
        F.col("mn") + F.round((F.col("v") - F.col("mn")) / scale, 0) * scale
    )
    errs = j.select(
        "vec_id", "label", "dim",
        ((F.col("v") - deq) * (F.col("v") - deq)).alias("e2"),
    )
    per_vec = errs.groupBy("vec_id", "label").agg(
        F.round(
            canonical_sum("e2", "dim") / F.lit(float(DIM)),
            6,
        ).alias("mse")
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                F.sum(F.col("mse").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_mse"),
            F.max("mse").alias("max_mse"),
        )
        .orderBy("label")
    )


# --- batch 38: ColBERT-style late interaction ------------------------------

MAXSIM_Q_TOKENS = 4  # pseudo query-token count
MAXSIM_SUBDIM = 16  # per-token sub-vector width (64-dim doc vec -> 4 chunks)


def _maxsim_query_matrix() -> list[list[float]]:
    """Deterministic 4x16 query-token matrix: per-mille weights from the
    engine-shared md5_52 convention (md5 hex prefix 13 -> int, % 2001 -
    1000, / 1000), computed once in Python and pinned as literals in BOTH
    engines' expressions (the shared-literal rule for derived constants,
    like _PI_LIT / folded ln(decay))."""
    out = []
    for t in range(MAXSIM_Q_TOKENS):
        row = []
        for i in range(MAXSIM_SUBDIM):
            h = int(hashlib.md5(f"msq:{t}:{i}".encode()).hexdigest()[:13], 16)
            row.append((h % 2001 - 1000) / 1000.0)
        out.append(row)
    return out


MAXSIM_Q = _maxsim_query_matrix()


def maxsim_expr(elem: "callable") -> str:
    """The late-interaction score as ONE arithmetic expression string,
    generated identically for both engines (`elem(j)` renders the j-th
    0-based doc-vector element in the engine's syntax). score =
    sum_t max_s dot(q_t, d_s): every dot is a left-associated ascending-dim
    chain, the max is greatest(...), the outer sum left-associated — the
    same IEEE op tree on both sides."""
    tok_maxes = []
    for t in range(MAXSIM_Q_TOKENS):
        dots = []
        for s in range(MAXSIM_Q_TOKENS):
            terms = " + ".join(
                f"({MAXSIM_Q[t][i]!r} * {elem(s * MAXSIM_SUBDIM + i)})"
                for i in range(MAXSIM_SUBDIM)
            )
            dots.append(f"({terms})")
        tok_maxes.append(f"greatest({', '.join(dots)})")
    return " + ".join(tok_maxes)


def maxsim_late_interaction_topk(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia 2020,
    SIGIR): the doc vector is treated as 4 token sub-vectors of 16 dims;
    score = sum over query tokens of the MAX dot product against any doc
    sub-vector. The whole scorer is one JVM-side codegen expression per
    row (no UDF, no explode): a single corpus scan + TakeOrderedAndProject
    top-k — the same shape as ann_bruteforce_topk, so the IVF/LSH pruned
    variants apply unchanged if recall targets allow."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    emb = load(spark, sf_dir, "embeddings")
    # Spark SQL array subscript is 0-based
    expr = maxsim_expr(lambda j: f"CAST(embedding[{j}] AS DOUBLE)")
    scored = emb.select(
        "vec_id", F.round(F.expr(expr), 6).alias("maxsim")
    )
    return ranked_topk(scored, [F.desc("maxsim"), F.asc("vec_id")], k).select(
        "vec_id", "maxsim", "rank"
    )


# --- batch 39: hard negatives + centroid outliers ---------------------------

HARDNEG_MOD = 251
HARDNEG_K = 5


def hard_negative_mining(
    spark: SparkSession, sf_dir: str, k: int = HARDNEG_K, qmod: int = HARDNEG_MOD
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each probe
    vector (vec_id % qmod == 0) the top-k most cosine-similar vectors
    carrying a DIFFERENT label — the negatives that actually teach the
    model. Same shape as ann_batch_topk (broadcast probe batch, one
    corpus scan, per-query WindowGroupLimit) plus the label-mismatch
    predicate; at scale the IVF-pruned variant applies unchanged."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % qmod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(
            (F.col("label") != F.col("qlabel"))
            & (F.col("vec_id") != F.col("query_id"))
        )
        .select(
            "query_id",
            "vec_id",
            F.round(
                _cosine(
                    F.col("embedding").cast("array<double>"),
                    F.col("qvec").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


CENTROID_OUTLIER_K = 20


def centroid_outlier_vecs(
    spark: SparkSession, sf_dir: str, k: int = CENTROID_OUTLIER_K
) -> DataFrame:
    """Mislabeled-embedding audit: the k vectors farthest (L2) from their
    own label's centroid — the first list a curation pass reviews for
    label noise / outlier contamination. Centroids reuse the
    embedding_centroid_by_label derivation exactly (6dp DECIMAL component
    sums, then double means); distances fold ascending dims off the
    broadcast per-label centroid arrays — one corpus scan, no UDF."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(
        "label",
        F.col("pos").alias("dim"),
        F.round("col", 6).cast("decimal(18,6)").alias("v"),
    )
    m = (
        comp.groupBy("label", "dim")
        .agg(F.count(F.lit(1)).cast("long").alias("n"), F.sum("v").alias("s"))
        .select(
            "label", "dim", (F.col("s").cast("double") / F.col("n")).alias("m")
        )
    )
    cent = (
        m.groupBy("label")
        .agg(F.sort_array(F.collect_list(F.struct("dim", "m"))).alias("cm"))
        .select("label", F.transform("cm", lambda s: s["m"]).alias("cvec"))
    )
    v = F.col("embedding").cast("array<double>")
    d2 = F.aggregate(
        F.zip_with(v, F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "vec_id", "label", F.round(F.sqrt(d2), 6).alias("dist")
    )
    return ranked_topk(scored, [F.desc("dist"), F.asc("vec_id")], k).select(
        "vec_id", "label", "dist", "rank"
    )


SEMDEDUP_SWEEP = (0.35, 0.40, 0.45, 0.50)


def semdedup_threshold_sweep(
    spark: SparkSession, sf_dir: str, thresholds: tuple[float, ...] = SEMDEDUP_SWEEP
) -> DataFrame:
    """Near-dup threshold calibration curve: how many candidate pairs the
    LSH-band blocking yields at each cosine cutoff — the sweep a curation
    owner reads before pinning a semantic-dedup threshold (too low eats
    real data, too high misses paraphrases). One blocking+verify pass
    (embedding_near_dup_pairs at the sweep minimum), then a broadcast
    threshold table LEFT-joined so every cutoff reports, including zero."""
    pairs = embedding_near_dup_pairs(spark, sf_dir, threshold=min(thresholds))
    th = spark.createDataFrame(
        [(float(t),) for t in sorted(thresholds)], "threshold double"
    )
    counts = (
        pairs.crossJoin(F.broadcast(th))
        .filter(F.col("cosine") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    return (
        th.join(counts, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        )
        .orderBy("threshold")
    )


KNN_CONFUSION_MOD = 97


def knn_label_confusion(
    spark: SparkSession, sf_dir: str, qmod: int = KNN_CONFUSION_MOD
) -> DataFrame:
    """1-NN label confusion matrix over a deterministic probe sample
    (vec_id % qmod == 0): each probe's nearest neighbor by cosine
    (excluding itself), tallied as (true label, neighbor label) — the
    embedding-space quality audit a labeling pipeline reads before
    trusting kNN pseudo-labels. The probe batch broadcasts against one
    corpus scan (ann_batch_topk's shape at k=1); the diagonal mass is the
    leave-one-out 1-NN accuracy."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % qmod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            F.col("label").alias("nn_label"),
            "vec_id",
            F.round(
                _cosine(
                    F.col("embedding").cast("array<double>"),
                    F.col("qvec").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    nn = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        nn.groupBy(F.col("qlabel").alias("label"), "nn_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("label", "nn_label")
    )


# --- batch 46: SQ8 recall audit ---------------------------------------------

INT8_RECALL_K = 10
INT8_RECALL_PROBES = 8  # probe vectors = vec_id 0..7


def int8_ann_recall(
    spark: SparkSession,
    sf_dir: str,
    k: int = INT8_RECALL_K,
    n_probes: int = INT8_RECALL_PROBES,
) -> DataFrame:
    """Recall@k of int8-scalar-quantized cosine search vs exact float
    cosine — the RANKING audit next to int8_quantization_audit's
    geometry MSE (and ann_pq_topk's PQ sibling). Every embedding is
    quantize-dequantized on the same per-dim [min,max]/255 grid as the
    audit; both legs score the probe batch against the full corpus in
    one pass (two cosines per pair row), rank per probe on the ROUNDED
    score with vec_id tie-break, and recall = |top-k(float) ∩
    top-k(deq)| / k. Plan: 64-row dim-stats groupBy, deq arrays
    reassembled by an ascending-dim sort (order-pinned), probe batch
    broadcast — the corpus is scanned once, the per-probe windows are
    WindowGroupLimit-pruned."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("vec_id", F.col("pos").alias("dim"), F.col("col").alias("v"))
    dimstats = comp.groupBy("dim").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
    deq = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
        F.col("mn") + F.round((F.col("v") - F.col("mn")) / scale, 0) * scale
    )
    vecs = (
        comp.join(F.broadcast(dimstats), "dim")
        .select("vec_id", "dim", "v", deq.alias("dq"))
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "v"))), lambda s: s["v"]
            ).alias("fvec"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("dim", "dq"))), lambda s: s["dq"]
            ).alias("qvec"),
        )
    )
    probes = vecs.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("query_id"),
        F.col("fvec").alias("pf"),
        F.col("qvec").alias("pq"),
    )
    pairs = vecs.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.round(_cosine(F.col("fvec"), F.col("pf")), 6).alias("cos_f"),
        F.round(_cosine(F.col("qvec"), F.col("pq")), 6).alias("cos_q"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_f").desc(), F.col("vec_id").asc()
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_q").desc(), F.col("vec_id").asc()
    )
    ranked = scored.select(
        "query_id",
        "vec_id",
        F.row_number().over(wf).alias("rank_f"),
        F.row_number().over(wq).alias("rank_q"),
    ).filter((F.col("rank_f") <= k) | (F.col("rank_q") <= k))
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(
                F.when((F.col("rank_f") <= k) & (F.col("rank_q") <= k), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("n_overlap")
        )
        .select(
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap").cast("double") / F.lit(float(k)), 6).alias(
                "recall"
            ),
        )
        .orderBy("query_id")
    )


# --- batch 48: Matryoshka truncation audit + cosine radius search -----------

MRL_TRUNC_DIM = 32  # keep the first half of the 64-dim embeddings
MRL_RECALL_K = 10
RADIUS_COS_MIN = 0.2
RADIUS_PROBES = 8


def matryoshka_recall(
    spark: SparkSession,
    sf_dir: str,
    trunc_dim: int = MRL_TRUNC_DIM,
    k: int = MRL_RECALL_K,
    n_probes: int = RADIUS_PROBES,
) -> DataFrame:
    """Recall@k of truncated-dimension cosine search vs full-dimension —
    the Matryoshka-representation audit (would serving on the first
    trunc_dim dims preserve the top-k?). Sibling of int8_ann_recall's
    quantization audit: both legs rank the probe batch against the full
    corpus on the ROUNDED cosine with vec_id tie-break; recall =
    |top-k(full) ∩ top-k(truncated)| / k per probe. The truncated leg is
    a plain F.slice — no second scan, both cosines come off one pass."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("fvec")
    )
    vecs = emb.withColumn("tvec", F.slice(F.col("fvec"), 1, trunc_dim))
    probes = vecs.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("query_id"),
        F.col("fvec").alias("pf"),
        F.col("tvec").alias("pt"),
    )
    pairs = vecs.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.round(_cosine(F.col("fvec"), F.col("pf")), 6).alias("cos_f"),
        F.round(_cosine(F.col("tvec"), F.col("pt")), 6).alias("cos_t"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_f").desc(), F.col("vec_id").asc()
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("cos_t").desc(), F.col("vec_id").asc()
    )
    ranked = scored.select(
        "query_id",
        "vec_id",
        F.row_number().over(wf).alias("rank_f"),
        F.row_number().over(wt).alias("rank_t"),
    ).filter((F.col("rank_f") <= k) | (F.col("rank_t") <= k))
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(
                F.when((F.col("rank_f") <= k) & (F.col("rank_t") <= k), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_overlap")
        )
        .select(
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap").cast("double") / F.lit(float(k)), 6).alias(
                "recall"
            ),
        )
        .orderBy("query_id")
    )


def ann_radius_search(
    spark: SparkSession,
    sf_dir: str,
    cos_min: float = RADIUS_COS_MIN,
    n_probes: int = RADIUS_PROBES,
) -> DataFrame:
    """Cosine radius (range) search: for each probe, every corpus vector
    with cosine >= the threshold — the fixed-radius twin of the top-k
    queries (Lucene's RnnCollector / range-query-over-vector shape).
    Returns the per-probe neighbor count, the max cosine, and the
    nearest neighbor id (rounded-cosine rank, vec_id tie-break). Plan:
    probes broadcast, one corpus scan, a WindowGroupLimit-pruned rank
    for the nearest id; the threshold filter runs before the window so
    the ranked set is radius-bounded."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("fvec")
    )
    probes = emb.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("query_id"), F.col("fvec").alias("pf")
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(_cosine(F.col("fvec"), F.col("pf")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(float(cos_min)))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neighbors"),
            F.max("cos").alias("max_cos"),
            F.max(F.when(F.col("rn") == 1, F.col("vec_id"))).alias("nearest_id"),
        )
        .orderBy("query_id")
    )


# --- batch 49: embedding dimension covariance audit --------------------------

COV_TOP_K = 20


def covariance_topk_dims(
    spark: SparkSession, sf_dir: str, k: int = COV_TOP_K
) -> DataFrame:
    """Top-k embedding dimension pairs by |covariance| — the redundancy
    audit run before picking PCA/whitening or a Matryoshka cut: strongly
    covarying dimensions carry duplicated signal. All (i<j) pairs
    explode from ONE nested-transform expression per row (no self-join,
    no shuffle before the 2,016-group aggregate); sums accumulate as
    12dp DECIMAL of the per-row products (order-free), and the
    covariance (Sxy - Sx*Sy/n)/n is derived from the exact totals in one
    identical float chain per engine. At 100 TB this is a single
    map-side-combinable pass — the group count is dim²/2, independent of
    corpus size."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("e")
    )
    pairs = emb.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(e) - 2), i -> "
                "transform(sequence(i + 1, size(e) - 1), j -> "
                # Spark SQL's [] subscript is 0-based (element_at is 1-based)
                "struct(i AS di, j AS dj, e[i] AS x, e[j] AS y))))"
            )
        ).alias("p")
    ).select("p.di", "p.dj", "p.x", "p.y")
    agg = pairs.groupBy("di", "dj").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.round(F.col("x"), 12).cast("decimal(38,12)")).alias("sx"),
        F.sum(F.round(F.col("y"), 12).cast("decimal(38,12)")).alias("sy"),
        F.sum(F.round(F.col("x") * F.col("y"), 12).cast("decimal(38,12)")).alias(
            "sxy"
        ),
    )
    cov = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
    ) / F.col("n")
    scored = agg.select(
        "di", "dj", F.round(cov, 6).alias("cov"), F.round(F.abs(cov), 6).alias("abs_cov")
    )
    w = Window.orderBy(F.col("abs_cov").desc(), F.col("di").asc(), F.col("dj").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("rank", "di", "dj", "cov", "abs_cov")
        .orderBy("rank")
    )


# --- batch 50: 1-bit binary quantization recall audit ------------------------

BQ_RECALL_K = 10
BQ_RECALL_PROBES = 8  # probe vectors = vec_id 0..7


def binary_quantization_recall(
    spark: SparkSession,
    sf_dir: str,
    k: int = BQ_RECALL_K,
    n_probes: int = BQ_RECALL_PROBES,
) -> DataFrame:
    """Recall@k of 1-bit binary-quantized search (sign bit per dim,
    Hamming ranking) vs exact float cosine — the most aggressive point on
    the quantization curve next to int8_ann_recall and ann_pq_topk. The
    bit convention is (v >= 0) on the float64-widened value, applied
    identically to corpus and probe, so the Hamming count is an exact
    integer on any engine; the float leg ranks on the 6dp-rounded cosine
    with vec_id tie-break like every ANN audit here. Plan: probe batch
    broadcast, one corpus scan, per-probe WindowGroupLimit-pruned
    windows — at 100 TB the brute legs are the AUDIT (cost ∝ probes ×
    corpus), the serving path is the IVF/LSH family."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    probes = emb.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("pe")
    )
    pairs = emb.crossJoin(F.broadcast(probes)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    ham = F.aggregate(
        F.zip_with(
            F.col("e"),
            F.col("pe"),
            lambda a, b: ((a >= 0) != (b >= 0)).cast("int"),
        ),
        F.lit(0),
        lambda s, v: s + v,
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        F.round(_cosine(F.col("e"), F.col("pe")), 6).alias("cos_f"),
        ham.cast("long").alias("hamming"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_f").desc(), F.col("vec_id").asc()
    )
    wb = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("vec_id").asc()
    )
    ranked = scored.select(
        "query_id",
        "vec_id",
        F.row_number().over(wf).alias("rank_f"),
        F.row_number().over(wb).alias("rank_b"),
    ).filter((F.col("rank_f") <= k) | (F.col("rank_b") <= k))
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("rank_f") <= k) & (F.col("rank_b") <= k), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_overlap")
        )
        .select(
            "query_id",
            "n_overlap",
            F.round(F.col("n_overlap").cast("double") / F.lit(float(k)), 6).alias(
                "recall"
            ),
        )
        .orderBy("query_id")
    )


# --- batch 51: distributed top principal component (power iteration) ---------

PCA_ROUND = 12  # per-term rounding scale feeding the order-free DECIMAL sums


def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud via TWO unrolled
    power iterations from the deterministic uniform start w0 = 1/sqrt(d)
    (= 0.125 exactly at d=64) — the whitening/anisotropy audit run before
    deciding a PCA cut (a dominant component means the embedding space
    wastes capacity; see also covariance_topk_dims). Fully distributed
    and order-free: every reduction (per-vector projection y = <x-mu, w>,
    per-dim scatter s = X'y, squared norms) rounds its terms at 12dp and
    sums as DECIMAL(38,12), so the result is bit-identical at any
    partition count and on any engine; the only driver-side values are
    the 64-row w vectors (broadcast dims, the IVF-centroid precedent).
    Output: per-dim loadings of w2 and the Rayleigh eigenvalue estimate
    ||s2||/n. At 100 TB each iteration is two map-side-combinable
    aggregations over one corpus scan — the classic scalable power step."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("vec_id", F.col("pos").alias("dim"), F.col("col").alias("v"))
    comp = comp.persist()
    n = comp.select("vec_id").distinct().count()
    d = comp.agg(F.max("dim")).collect()[0][0] + 1
    mu = comp.groupBy("dim").agg(
        (
            F.sum(F.round(F.col("v"), PCA_ROUND).cast("decimal(38,12)")).cast(
                "double"
            )
            / F.lit(float(n))
        ).alias("mu")
    )
    centered = comp.join(F.broadcast(mu), "dim").select(
        "vec_id", "dim", (F.col("v") - F.col("mu")).alias("c")
    )
    centered = centered.persist()
    w0 = 1.0 / float(d) ** 0.5
    wdf = mu.select("dim", F.lit(w0).alias("w"))

    def power_step(w_in: DataFrame):
        y = (
            centered.join(F.broadcast(w_in), "dim")
            .groupBy("vec_id")
            .agg(
                F.sum(
                    F.round(F.col("c") * F.col("w"), PCA_ROUND).cast(
                        "decimal(38,12)"
                    )
                )
                .cast("double")
                .alias("y")
            )
        )
        s = (
            centered.join(y, "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(
                    F.round(F.col("y") * F.col("c"), PCA_ROUND).cast(
                        "decimal(38,12)"
                    )
                )
                .cast("double")
                .alias("s")
            )
        )
        norm = s.agg(
            F.sqrt(
                F.sum(
                    F.round(F.col("s") * F.col("s"), PCA_ROUND).cast(
                        "decimal(38,12)"
                    )
                ).cast("double")
            ).alias("norm")
        )
        w_out = s.crossJoin(F.broadcast(norm)).select(
            "dim", (F.col("s") / F.col("norm")).alias("w")
        )
        return w_out, norm

    w1, _n1 = power_step(wdf)
    w2, n2 = power_step(w1)
    out = (
        w2.crossJoin(F.broadcast(n2))
        .select(
            "dim",
            F.round(F.col("w"), 6).alias("loading"),
            F.round(F.col("norm") / F.lit(float(n)), 6).alias("eigenvalue"),
        )
        .orderBy("dim")
    )
    rows = out.collect()
    comp.unpersist()
    centered.unpersist()
    return spark.createDataFrame(
        rows, "dim int, loading double, eigenvalue double"
    )


def pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace product-quantization distortion audit — the codebook
    health check a vector pipeline runs before trusting ADC recall
    (ann_pq_topk is the serving path; this is its observability twin,
    like ivf_balance_report for IVF): for every subspace m, the count of
    codewords actually used, and the mean / max squared reconstruction
    error of the argmin assignment. Encode is the exact ann_pq_topk
    chain (6dp-rounded sequential subspace folds, argmin ties to lowest
    cid); means sum DECIMAL(18,6) over the already-rounded distances —
    order-free exact. Scale: N x K x M broadcast map, one groupBy(m)."""
    from lucene_mapreduce_spark.operators.parity import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = emb.where(
        (F.col("vec_id") >= 1) & (F.col("vec_id") <= PQ_K)
    ).select(F.col("vec_id").cast("int").alias("cid"), F.col("v").alias("cv"))
    ms = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))

    def subdist(vcol, ccol):
        dims = F.sequence(
            F.col("m") * PQ_SUBDIM + 1, (F.col("m") + 1) * PQ_SUBDIM
        )
        return F.round(
            F.aggregate(
                dims,
                F.lit(0.0),
                lambda acc, d: acc
                + (F.element_at(vcol, d) - F.element_at(ccol, d))
                * (F.element_at(vcol, d) - F.element_at(ccol, d)),
            ),
            6,
        )

    tri = (
        emb.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "m", "cid", subdist(F.col("v"), F.col("cv")).alias("d")
        )
    )
    w = Window.partitionBy("vec_id", "m").orderBy(F.asc("d"), F.asc("cid"))
    assigned = (
        tri.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("m", "cid", F.col("d").cast("decimal(18,6)").alias("d"))
    )
    return (
        assigned.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.countDistinct("cid").cast("long").alias("codewords_used"),
            F.round(
                F.sum("d").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_sq_err"),
            F.round(F.max("d").cast("double"), 6).alias("max_sq_err"),
        )
        .orderBy("m")
    )


PQ_SHORTLIST = 50


def pq_rescore_topk(
    spark: SparkSession,
    sf_dir: str,
    shortlist: int = PQ_SHORTLIST,
    k: int = PQ_TOPK,
) -> DataFrame:
    """Two-stage PQ-then-exact retrieval (the Faiss refine / IndexRefine
    pattern — THE production ANN recipe: a cheap ADC pass shortlists,
    the exact metric re-ranks only the shortlist): stage 1 is
    ann_pq_topk's ADC chain cut at `shortlist`; stage 2 re-ranks those
    rows by the exact L2 audit column the PQ pass already carries.
    Rescore cost is bounded by the shortlist parameter, never the
    corpus — at 10^12 vectors stage 2 reads `shortlist` full vectors."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    s = ann_pq_topk(spark, sf_dir, k=shortlist).select(
        "vec_id", "approx_dist", "exact_dist"
    )
    return ranked_topk(
        s, [F.asc("exact_dist"), F.asc("vec_id")], k
    ).select("vec_id", "exact_dist", "rank")


PAIR_HASH_MULT = 2654435761  # Knuth multiplicative constant


def cosine_pair_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-geometry audit: the cosine distribution over a
    deterministic O(N) pair sample — the hubness/anisotropy check an
    embedding release ships (a concentrated histogram near a high mean
    predicts poor ANN recall). Pairing is index-arithmetic, not random:
    vector i partners with (i·2654435761) mod N (Knuth multiplicative
    hashing — a fixed permutation-like map), so the sample is
    reproducible at any parallelism and join-computable: ONE equi-join
    on the computed partner id, never an all-pairs blowup. Cosines are
    the engine-shared zip_with/aggregate fold rounded 6dp; bins are
    floor(cos·10) integers."""
    from lucene_mapreduce_spark.operators.parity import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = emb.count()  # scalar
    a = emb.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        # mod-first keeps the product under 2^63 for any corpus up to
        # ~3e9 vectors (id % n and MULT % n are both < n)
        (
            ((F.col("vec_id") % F.lit(int(n))) * F.lit(PAIR_HASH_MULT % n))
            % F.lit(int(n))
        ).alias("b_id"),
    ).filter(F.col("a_id") != F.col("b_id"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("v").alias("bv"))
    cos = F.round(_cosine(F.col("av"), F.col("bv")), 6)
    pairs = a.join(b, "b_id").select(
        F.floor(cos * F.lit(10.0)).cast("int").alias("bin")
    )
    return (
        pairs.groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("bin")
    )


def embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus anisotropy (Ethayarajh 2019's mean pairwise cosine proxy)
    WITHOUT enumerating pairs — the identity the distributed setting
    wants: over L2-normalized vectors, sum of all pairwise dots =
    ||Σ u||² − N, so mean pairwise cosine = (||Σ u||² − N)/(N(N−1)).
    One pass: per-dimension sums of 12dp-rounded DECIMAL(28,12)
    normalized components (posexplode → order-free exact sums — the
    embedding_centroid pattern), then scalar double math. O(N·d) work,
    O(d) state; the pair histogram (cosine_pair_histogram) samples, this
    computes the exact corpus mean."""
    from lucene_mapreduce_spark.operators.parity import load

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    )
    norm = F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda s, x: s + x * x)
    )
    unit = emb.filter(norm > 0).select(
        F.posexplode(
            F.transform(F.col("v"), lambda x: x / norm)
        ).alias("dim", "u")
    )
    sums = unit.groupBy("dim").agg(
        F.sum(F.round(F.col("u"), 12).cast("decimal(28,12)")).alias("s")
    )
    # the cross-dimension square sum is also order-free DECIMAL — a raw
    # double sum over 64 dims would be partition-order-dependent
    agg = sums.agg(
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s").cast("double"), 12
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("sq"),
    )
    n = emb.filter(norm > 0).count()
    return agg.select(
        F.lit(int(n)).cast("long").alias("n_vectors"),
        F.round(
            (F.col("sq") - F.lit(float(n)))
            / F.lit(float(n) * (float(n) - 1.0)),
            6,
        ).alias("mean_pairwise_cosine"),
    )


def embedding_dim_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quartiles of the embedding corpus — the calibration
    table int8 quantization and robust scaling read (int8_quantization_
    audit pins one scheme; this publishes the underlying statistics):
    exact type-7 q1/median/q3 per dimension (the percentile ==
    quantile_cont rule), computed from one posexplode + one grouped
    exact-percentile aggregate — 64 groups however large the corpus."""
    from lucene_mapreduce_spark.operators.parity import load

    emb = load(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x"
        )
    )
    return (
        emb.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.expr("percentile(x, 0.25)"), 6).alias("q1"),
            F.round(F.expr("percentile(x, 0.5)"), 6).alias("median"),
            F.round(F.expr("percentile(x, 0.75)"), 6).alias("q3"),
        )
        .orderBy("dim")
    )


NPROBE_CURVE = (1, 2, 4)


def ivf_nprobe_recall_curve(
    spark: SparkSession, sf_dir: str, nprobes: tuple = NPROBE_CURVE, k: int = 5
) -> DataFrame:
    """Recall-vs-nprobe operating curve for the IVF index — the tuning
    chart an ANN deployment reads before pinning its latency/recall
    point (ann_recall_at_k measures ONE point; this sweeps the knob).
    Per nprobe: the IVF batch leg against the exact brute batch,
    aggregate recall = total hits / (k · queries) — all integers until
    one exact-rational divide. Audit cost is |sweep| x the probe-batch
    work, corpus-independent."""
    from lucene_mapreduce_spark.operators.ivf import ann_ivf_batch_topk

    brute = ann_batch_topk(spark, sf_dir, k=k).select("query_id", "vec_id")
    nq = brute.select("query_id").distinct().count()
    legs = []
    for np_ in nprobes:
        ivf = ann_ivf_batch_topk(spark, sf_dir, k=k, nprobe=np_).select(
            "query_id", "vec_id"
        )
        hits = ivf.join(brute, ["query_id", "vec_id"], "left_semi")
        legs.append(
            hits.agg(F.count(F.lit(1)).cast("long").alias("total_hits")).select(
                F.lit(int(np_)).cast("int").alias("nprobe"),
                F.lit(int(nq)).cast("long").alias("n_queries"),
                "total_hits",
                F.round(
                    F.col("total_hits").cast("double")
                    / F.lit(float(k * nq)),
                    6,
                ).alias("recall"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("nprobe")


TRIPLET_MOD = 37  # ~14 anchors on the 500-vec gate corpus; still bounded at scale
TRIPLET_MARGIN = 0.05


def triplet_mining_plan(
    spark: SparkSession,
    sf_dir: str,
    qmod: int = TRIPLET_MOD,
    margin: float = TRIPLET_MARGIN,
) -> DataFrame:
    """Margin-based (anchor, positive, negative) triplet mining for
    contrastive training — the structured sibling of
    hard_negative_mining: per md5-free anchor (vec_id % qmod == 0) the
    positive is the most-cosine-similar SAME-label vector, the negative
    the most similar DIFFERENT-label vector that is still farther than
    the positive (neg_sim < pos_sim — the 'hardest valid' choice; FaceNet
    semi-hard when pos_sim - neg_sim < margin, easy otherwise). One
    broadcast anchor batch x one corpus scan, per-anchor
    WindowGroupLimit — the ann_batch_topk shape; ranks cut on the
    ROUNDED cosine with vec_id tiebreak (the sf1 rank rule). Anchors
    whose label has no other member, or with no valid negative, drop —
    a training-set plan only emits complete triplets."""
    from pyspark.sql.window import Window

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % qmod == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "qlabel",
            "vec_id",
            "label",
            F.round(
                _cosine(
                    F.col("embedding").cast("array<double>"),
                    F.col("qvec").cast("array<double>"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    wp = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    pos = (
        scored.filter(F.col("label") == F.col("qlabel"))
        .withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") == 1)
        .select(
            "anchor_id",
            F.col("vec_id").alias("pos_id"),
            F.col("cosine").alias("pos_sim"),
        )
    )
    neg = (
        scored.filter(F.col("label") != F.col("qlabel"))
        .join(pos, "anchor_id")
        .filter(F.col("cosine") < F.col("pos_sim"))
        .withColumn("r", F.row_number().over(wp))
        .filter(F.col("r") == 1)
        .select(
            "anchor_id",
            "pos_id",
            "pos_sim",
            F.col("vec_id").alias("neg_id"),
            F.col("cosine").alias("neg_sim"),
        )
    )
    return neg.select(
        "anchor_id",
        "pos_id",
        F.col("pos_sim").alias("pos_sim"),
        "neg_id",
        F.col("neg_sim").alias("neg_sim"),
        F.round(F.col("pos_sim") - F.col("neg_sim"), 6).alias("triplet_gap"),
        (F.col("pos_sim") - F.col("neg_sim") < F.lit(margin))
        .cast("int")
        .alias("semi_hard"),
    ).orderBy("anchor_id")


# --- batch 79: Borda fusion + Johnson-Lindenstrauss projection audit --------
BORDA_W_LEX = 2  # integer list weights keep the whole score exact
BORDA_W_VEC = 1
JL_DIM = 64  # source embedding width (datagen-pinned)
JL_K = 16  # projected width; 1/sqrt(16) = 0.25 is an exact scale


def _jl_signs() -> list[list[int]]:
    """The pinned +-1 JL sign matrix: sign(j,i) from md5(f"{j}:{i}:jl")
    parity — data-independent, shared verbatim with the oracle (the
    maxsim pinned-matrix convention)."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{j}:{i}:jl".encode()).hexdigest()[:13], 16
            )
            % 2
            == 0
            else -1
            for i in range(JL_DIM)
        ]
        for j in range(JL_K)
    ]


def borda_fusion_topk(
    spark: SparkSession, sf_dir: str, k: int = 10, depth: int = RRF_DEPTH
) -> DataFrame:
    """Weighted Borda-count fusion — rrf_fusion's positional sibling:
    each retriever's top-`depth` list awards (depth + 1 - rank) points,
    lexical list weighted BORDA_W_LEX, vector list BORDA_W_VEC, so the
    fused score is EXACT INTEGER arithmetic end to end (no reciprocal
    floats at all). Same two retriever legs as rrf_fusion (index-path
    BM25 + exact cosine from the vec_id=0 probe); the fusion is a
    2*depth-row full-outer join."""
    from lucene_mapreduce_spark.operators import fulltext
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    lex = fulltext.bm25_index_topk_documents(
        spark, sf_dir, k=depth
    ).select("doc_id", F.col("rank").alias("lrank"))
    vec = ann_bruteforce_topk(spark, sf_dir, k=depth).select(
        F.col("vec_id").alias("doc_id"), F.col("rank").alias("vrank")
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.lit(BORDA_W_LEX)
            * F.coalesce(
                F.lit(depth + 1) - F.col("lrank"), F.lit(0)
            )
            + F.lit(BORDA_W_VEC)
            * F.coalesce(
                F.lit(depth + 1) - F.col("vrank"), F.lit(0)
            )
        )
        .cast("long")
        .alias("borda"),
    )
    return ranked_topk(
        fused, [F.desc("borda"), F.asc("doc_id")], k
    ).select("doc_id", "borda", "rank")


def jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distance-preservation audit: every vector
    projects to JL_K dims through the pinned +-1 sign matrix (Achlioptas
    2003's database-friendly projection) scaled by the exact 1/sqrt(16)
    = 0.25, and the squared-distance ratio d2_proj/d2_orig is
    histogrammed over the same deterministic Knuth-multiplicative pair
    sample as cosine_pair_histogram. Determinism: sign products are
    exact (+-x), each projection/distance is a sequential left fold
    with 0.0 init over identical operands in identical order in both
    engines (the CUSUM fold rule), components round 12dp, the ratio
    6dp before the decade bin. One projection pass + ONE equi-join —
    never all pairs."""
    from lucene_mapreduce_spark.operators.parity import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    signs = _jl_signs()
    proj_cols = [
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col("v"),
                    F.array(*[F.lit(float(s)) for s in signs[j]]),
                    lambda x, s: x * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * F.lit(0.25),
            12,
        ).alias(f"y{j}")
        for j in range(JL_K)
    ]
    pe = emb.select("vec_id", "v", *proj_cols)
    n = emb.count()  # scalar
    a = pe.select(
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("av"),
        *[F.col(f"y{j}").alias(f"ya{j}") for j in range(JL_K)],
        (
            ((F.col("vec_id") % F.lit(int(n))) * F.lit(PAIR_HASH_MULT % n))
            % F.lit(int(n))
        ).alias("b_id"),
    ).filter(F.col("a_id") != F.col("b_id"))
    b = pe.select(
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("bv"),
        *[F.col(f"y{j}").alias(f"yb{j}") for j in range(JL_K)],
    )
    d2o = F.aggregate(
        F.zip_with(
            F.col("av"), F.col("bv"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    d2p = F.lit(0.0)
    for j in range(JL_K):
        diff = F.col(f"ya{j}") - F.col(f"yb{j}")
        d2p = d2p + diff * diff
    pairs = (
        a.join(b, "b_id")
        .select(d2o.alias("d2o"), d2p.alias("d2p"))
        .filter(F.col("d2o") > 0)
        .select(
            F.floor(
                F.round(F.col("d2p") / F.col("d2o"), 6) * F.lit(10.0)
            )
            .cast("int")
            .alias("bin")
        )
    )
    return (
        pairs.groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("bin")
    )


def embedding_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, the cosine between the
    centroid of the corpus' first half (vec_id*2 < N) and its second
    half — the per-class geometry-shift check a recurring ingest runs
    (term_drift_halves' dense sibling). Per-dim centroid components
    come from exact DECIMAL(28,12) sums (the embedding_centroid
    pattern); the cross-half dot/norm accumulations re-enter DECIMAL at
    12dp per dimension (the entropy-sum rule — a raw double sum over
    dims would be partition-order-dependent). Work is O(N*d) + a
    (labels x dims)-sized re-aggregate."""
    from lucene_mapreduce_spark.operators.parity import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    n = emb.count()  # scalar
    half = (F.col("vec_id") * 2 < F.lit(int(n))).cast("int").alias("half")
    per = emb.select(
        "label", half, F.posexplode("v").alias("dim", "x")
    )
    sums = per.groupBy("label", "half", "dim").agg(
        F.sum(F.round(F.col("x"), 12).cast("decimal(28,12)")).alias("s"),
        F.count(F.lit(1)).cast("long").alias("nv"),
    )
    m = sums.select(
        "label",
        "half",
        "dim",
        (F.col("s").cast("double") / F.col("nv").cast("double")).alias("m"),
        "nv",
    )
    a = m.filter(F.col("half") == 1).select(
        "label", "dim", F.col("m").alias("ma"), F.col("nv").alias("n_a")
    )
    b = m.filter(F.col("half") == 0).select(
        "label", "dim", F.col("m").alias("mb"), F.col("nv").alias("n_b")
    )
    j = a.join(b, ["label", "dim"])
    terms = j.select(
        "label",
        "n_a",
        "n_b",
        F.round(F.col("ma") * F.col("mb"), 12)
        .cast("decimal(38,12)")
        .alias("dt"),
        F.round(F.col("ma") * F.col("ma"), 12)
        .cast("decimal(38,12)")
        .alias("at"),
        F.round(F.col("mb") * F.col("mb"), 12)
        .cast("decimal(38,12)")
        .alias("bt"),
    )
    agg = terms.groupBy("label", "n_a", "n_b").agg(
        F.sum("dt").cast("double").alias("dot"),
        F.sum("at").cast("double").alias("aa"),
        F.sum("bt").cast("double").alias("bb"),
    )
    return agg.select(
        "label",
        "n_a",
        "n_b",
        F.round(
            F.col("dot") / (F.sqrt(F.col("aa")) * F.sqrt(F.col("bb"))), 6
        ).alias("centroid_cosine"),
    ).orderBy("label")


def centered_anisotropy_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mean-centering's effect on anisotropy (Mu & Viswanath 2018's
    'all-but-the-top' first step, public): the exact mean pairwise
    cosine of the corpus BEFORE and AFTER subtracting the per-dim
    corpus mean, both via the norm-of-mean identity
    (embedding_anisotropy) — centering collapses the common-direction
    inflation, and this pairs the two numbers that prove it. The 64
    dim means come from exact DECIMAL sums and ride into the centered
    pass as collected literals (bounded, d-sized — the centroid-table
    collect rule); every per-dim accumulation re-enters DECIMAL at
    12dp."""
    from lucene_mapreduce_spark.operators.parity import load

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("embedding").cast("array<double>").alias("v")
    )

    def mean_pairwise(unit_src: DataFrame) -> tuple:
        """(n, sum-of-squared-dim-sums frame) over unit vectors."""
        unit = unit_src.select(
            F.posexplode("u").alias("dim", "x")
        )
        sums = unit.groupBy("dim").agg(
            F.sum(F.round(F.col("x"), 12).cast("decimal(28,12)")).alias(
                "s"
            )
        )
        return sums.agg(
            F.sum(
                F.round(
                    F.col("s").cast("double") * F.col("s").cast("double"),
                    12,
                ).cast("decimal(38,12)")
            )
            .cast("double")
            .alias("sq")
        )

    norm_raw = F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda s, x: s + x * x)
    )
    raw_units = emb.filter(norm_raw > 0).select(
        F.transform(F.col("v"), lambda x: x / norm_raw).alias("u")
    )
    n_raw = raw_units.count()
    raw_sq = mean_pairwise(raw_units)

    mu_rows = (
        emb.select(F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.sum(F.round(F.col("x"), 12).cast("decimal(28,12)")).alias(
                "s"
            ),
            F.count(F.lit(1)).cast("long").alias("nv"),
        )
        .orderBy("dim")
        .collect()
    )  # bounded: d rows
    mu = [float(r["s"]) / float(r["nv"]) for r in mu_rows]
    mu_arr = F.array(*[F.lit(x) for x in mu])
    cvec = F.zip_with(F.col("v"), mu_arr, lambda x, m_: x - m_)
    cent_units = (
        emb.select(cvec.alias("c"))
        .filter(
            F.sqrt(
                F.aggregate(
                    F.col("c"), F.lit(0.0), lambda s, x: s + x * x
                )
            )
            > 0
        )
        .select(
            F.transform(
                F.col("c"),
                lambda x: x
                / F.sqrt(
                    F.aggregate(
                        F.col("c"), F.lit(0.0), lambda s, x2: s + x2 * x2
                    )
                ),
            ).alias("u")
        )
    )
    n_cent = cent_units.count()
    cent_sq = mean_pairwise(cent_units)

    def mpc(sq_col, n_):
        return F.round(
            (sq_col - F.lit(float(n_)))
            / F.lit(float(n_) * (float(n_) - 1.0)),
            6,
        )

    return raw_sq.crossJoin(
        cent_sq.withColumnRenamed("sq", "sq_c")
    ).select(
        F.lit(int(n_raw)).cast("long").alias("n_raw"),
        F.lit(int(n_cent)).cast("long").alias("n_centered"),
        mpc(F.col("sq"), n_raw).alias("raw_mean_cosine"),
        mpc(F.col("sq_c"), n_cent).alias("centered_mean_cosine"),
    )


def quantization_granularity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-channel vs per-tensor int8 quantization error — the
    granularity decision every quantized-serving rollout makes
    (int8_quantization_audit pins the per-channel scheme; this is the
    comparison that justifies it): both schemes quantize to 256 levels
    on [min, max] grids (per-dimension vs global), and the report is
    one row per scheme with corpus MSE and max absolute error.
    Identical quantize-dequantize IEEE chains on identical operands;
    per-component squared errors re-enter DECIMAL at 12dp; the max is
    an order-free selection on 12dp-rounded errors."""
    from lucene_mapreduce_spark.operators.parity import load

    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>"))
    ).select(F.col("pos").alias("dim"), F.col("col").alias("v"))
    dimstats = comp.groupBy("dim").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    glob = comp.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))

    def err_frame(joined: DataFrame) -> DataFrame:
        scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
        deq = F.when(F.col("mx") == F.col("mn"), F.col("mn")).otherwise(
            F.col("mn")
            + F.round((F.col("v") - F.col("mn")) / scale, 0) * scale
        )
        return joined.select(
            F.round((F.col("v") - deq) * (F.col("v") - deq), 12)
            .cast("decimal(28,12)")
            .alias("e2"),
            F.round(F.abs(F.col("v") - deq), 12).alias("ae"),
        )

    legs = {
        "per_channel": err_frame(comp.join(F.broadcast(dimstats), "dim")),
        "per_tensor": err_frame(comp.crossJoin(F.broadcast(glob))),
    }
    out = None
    for name, e in legs.items():
        row = e.agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.round(
                F.sum("e2").cast("double")
                / F.count(F.lit(1)).cast("double"),
                12,
            ).alias("mse"),
            F.round(F.max("ae"), 6).alias("max_abs_err"),
        ).select(
            F.lit(name).alias("scheme"), "n_components", "mse",
            "max_abs_err",
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("scheme")


def embedding_lag1_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential coherence of the embedding stream: mean cosine between
    consecutive vec_ids (lag 1) vs the Knuth-pair baseline mean — if the
    ingest order carries semantic locality (documents from one crawl
    batch embedding near each other), lag-1 cosine exceeds the random
    baseline; a gap near zero certifies order-independence for samplers
    that assume it. Cosines are the engine-shared fold rounded 6dp,
    re-entering DECIMAL at 12dp for the two means. Two equi-joins, no
    all-pairs."""
    from lucene_mapreduce_spark.operators.parity import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = emb.count()  # scalar
    a = emb.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av")
    )
    nxt = a.withColumn("b_id", F.col("a_id") + 1)
    knuth = a.withColumn(
        "b_id",
        (
            (F.col("a_id") % F.lit(int(n)))
            * F.lit(PAIR_HASH_MULT % n)
        )
        % F.lit(int(n)),
    ).filter(F.col("a_id") != F.col("b_id"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("v").alias("bv"))

    def mean_cos(pairs: DataFrame):
        return (
            pairs.join(b, "b_id")
            .select(
                F.round(_cosine(F.col("av"), F.col("bv")), 6)
                .cast("decimal(28,12)")
                .alias("c")
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.round(
                    F.sum("c").cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("mean_cos"),
            )
        )

    lag = mean_cos(nxt).select(
        F.col("n_pairs").alias("n_lag1"),
        F.col("mean_cos").alias("lag1_mean_cosine"),
    )
    base = mean_cos(knuth).select(
        F.col("n_pairs").alias("n_baseline"),
        F.col("mean_cos").alias("baseline_mean_cosine"),
    )
    return lag.crossJoin(F.broadcast(base)).select(
        "n_lag1",
        "lag1_mean_cosine",
        "n_baseline",
        "baseline_mean_cosine",
        F.round(
            F.col("lag1_mean_cosine") - F.col("baseline_mean_cosine"),
            6,
        ).alias("coherence_gap"),
    )


# ---------------------------------------------------------------------------
# Batch 118: cosine-vs-dot ranking agreement (Kendall tau)
# ---------------------------------------------------------------------------

RANK_AGREE_DEPTH = 50


def metric_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall-tau agreement between the cosine and dot-product rankings
    of the corpus against the fixed query vector — the metric-choice
    audit (normalize-or-not) beside ann_recall_at_k and
    rank_biased_overlap: both metrics rank their top-RANK_AGREE_DEPTH on
    ROUNDED (6dp) scores with the vec_id tiebreak (the house rank rule),
    tau-a = (C - D) / (n(n-1)/2) over the rank pairs of the
    intersection (row_number ranks are tie-free, so tau-a is exact from
    integer pair counts).  Pair enumeration is depth-bounded (<= k^2
    rows); the corpus is scanned once per metric with the broadcast
    query."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qvec")
    )
    e = F.col("embedding").cast("array<double>")
    qv = F.col("qvec").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(e, qv, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(_cosine(e, qv), 6).alias("cosine"),
            F.round(dot, 6).alias("dot"),
        )
    )
    rc = ranked_topk(
        scored, [F.desc("cosine"), F.asc("vec_id")], RANK_AGREE_DEPTH
    ).select("vec_id", F.col("rank").alias("rc"))
    rd = ranked_topk(
        scored, [F.desc("dot"), F.asc("vec_id")], RANK_AGREE_DEPTH
    ).select("vec_id", F.col("rank").alias("rd"))
    common = rc.join(rd, "vec_id")
    a = common.select(
        F.col("vec_id").alias("ida"), F.col("rc").alias("rca"),
        F.col("rd").alias("rda"),
    )
    b = common.select(
        F.col("vec_id").alias("idb"), F.col("rc").alias("rcb"),
        F.col("rd").alias("rdb"),
    )
    pairs = a.join(b, F.col("ida") < F.col("idb"))
    sgn = (F.col("rca") - F.col("rcb")) * (F.col("rda") - F.col("rdb"))
    counts = pairs.agg(
        F.sum((sgn > 0).cast("long")).alias("n_concordant"),
        F.sum((sgn < 0).cast("long")).alias("n_discordant"),
    )
    n_common = common.agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    return counts.crossJoin(F.broadcast(n_common)).select(
        F.lit(RANK_AGREE_DEPTH).cast("long").alias("k_depth"),
        "n_common",
        F.coalesce(F.col("n_concordant"), F.lit(0)).cast("long").alias(
            "n_concordant"
        ),
        F.coalesce(F.col("n_discordant"), F.lit(0)).cast("long").alias(
            "n_discordant"
        ),
        F.round(
            (F.coalesce(F.col("n_concordant"), F.lit(0))
             - F.coalesce(F.col("n_discordant"), F.lit(0))).cast("double")
            / (
                F.col("n_common").cast("double")
                * (F.col("n_common").cast("double") - F.lit(1.0))
                / F.lit(2.0)
            ),
            6,
        ).alias("tau"),
    )


# ---------------------------------------------------------------------------
# Batch 133: intra-list diversity of the ANN result page
# ---------------------------------------------------------------------------

ILD_K = 10


def result_diversity_ild(
    spark: SparkSession, sf_dir: str, k: int = ILD_K
) -> DataFrame:
    """Intra-list diversity of the brute-force cosine top-k page for
    the fixed query vector — the recsys serving metric MMR exists to
    improve (mmr_diversified_topk changes the page; this MEASURES the
    un-diversified one): mean pairwise (1 - cosine) across the k
    results, with the tightest and loosest pair alongside.  The page
    is k ids, so the pairwise block is k(k-1)/2 rows of the zip_with
    cosine — bounded at any corpus size; pair cosines are 6dp-rounded
    then DECIMAL-summed (order-free)."""
    page = ann_bruteforce_topk(spark, sf_dir, k).select("vec_id")
    emb = load(spark, sf_dir, "embeddings")
    vecs = page.join(emb, "vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    a = vecs.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = vecs.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        F.round(_cosine(F.col("va"), F.col("vb")), 6)
        .cast("decimal(18,6)")
        .alias("c6")
    )
    return pairs.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.lit(1.0)
            - F.sum("c6").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_ild"),
        F.min("c6").cast("double").alias("min_pair_cos"),
        F.max("c6").cast("double").alias("max_pair_cos"),
    ).select("k", "n_pairs", "mean_ild", "min_pair_cos", "max_pair_cos")


# ---------------------------------------------------------------------------
# Batch 153: two-NN intrinsic dimension
# ---------------------------------------------------------------------------

TWO_NN_PROBES = 64


def two_nn_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-NN intrinsic-dimension estimate of the embedding corpus
    (Facco et al. 2017, public): for each of a fixed md5-picked probe
    set, mu = r2/r1 over the two nearest Euclidean neighbors, and the
    ML estimator d = P / sum ln mu.  Squared distances come from the
    engine-shared sequential dot folds combined as |a|^2 + |b|^2 -
    2 a.b, rounded 9dp so ranking and the ln chain read the same
    number in both engines; the per-probe top-2 is a WindowGroupLimit
    over the probe partition; ln-mu contributions fold as 12dp
    DECIMAL.  Cost is probes x corpus (corpus-independent probe
    count), never all-pairs; zero-distance duplicates are excluded
    from the candidate set (documented)."""
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    probes = ranked_topk(
        emb.select(
            F.col("vec_id").alias("p_id"),
            F.col("v").alias("pv"),
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":2nn"))).alias(
                "mk"
            ),
        ),
        [F.asc("mk"), F.asc("p_id")],
        TWO_NN_PROBES,
    ).select("p_id", "pv")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda s, v: s + v,
        )

    d2 = F.round(
        dot(F.col("v"), F.col("v"))
        + dot(F.col("pv"), F.col("pv"))
        - F.lit(2.0) * dot(F.col("v"), F.col("pv")),
        9,
    )
    cand = (
        emb.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("p_id"))
        .select("p_id", "vec_id", d2.alias("d2"))
        .filter(F.col("d2") > 0)
    )
    w = Window.partitionBy("p_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    top2 = cand.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 2)
    per = top2.groupBy("p_id").agg(
        F.min(F.when(F.col("r") == 1, F.col("d2"))).alias("d1"),
        F.min(F.when(F.col("r") == 2, F.col("d2"))).alias("d2nd"),
    )
    lnmu = F.round(
        F.lit(0.5) * F.log(F.col("d2nd") / F.col("d1")), 12
    ).cast("decimal(38,12)")
    tot = emb.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(lnmu).cast("double").alias("slm"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "n_probes",
        "n_vectors",
        F.round("slm", 6).alias("sum_ln_mu"),
        # slm == 0 when every probe's two NN distances tie exactly (heavily
        # duplicated grid embeddings — observed at sf1): the estimator is
        # undefined there, so report an honest NULL instead of ANSI-erroring
        F.when(
            F.col("slm") != 0.0,
            F.round(F.col("n_probes").cast("double") / F.col("slm"), 6),
        ).alias("intrinsic_dim"),
    )


# ---------------------------------------------------------------------------
# Batch 159: dot-product vs cosine ranking disagreement
# ---------------------------------------------------------------------------

DVC_K = 10


def dot_vs_cosine_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dot-product vs cosine top-k disagreement for one md5-picked
    probe vector — the norm-bias audit an embedding store needs
    before choosing its similarity (MIPS retrieval favors long
    vectors; cosine normalizes them away; the overlap measures how
    much that matters on THIS corpus): both rankings use the shared
    sequential dot fold, scores rounded 6dp with vec_id tiebreaks,
    and the query reports overlap@k, Jaccard, and the summed rank
    displacement over the intersection.  Probe-bounded cost."""
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    probe = ranked_topk(
        emb.select(
            F.col("vec_id").alias("p_id"),
            F.col("v").alias("pv"),
            F.md5(
                F.concat(F.col("vec_id").cast("string"), F.lit(":dvc"))
            ).alias("mk"),
        ),
        [F.asc("mk"), F.asc("p_id")],
        1,
    ).select("p_id", "pv")

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda s, v: s + v,
        )

    cand = emb.crossJoin(F.broadcast(probe)).filter(
        F.col("vec_id") != F.col("p_id")
    )
    dp = F.round(dot(F.col("v"), F.col("pv")), 6)
    cos = F.round(
        dot(F.col("v"), F.col("pv"))
        / (
            F.sqrt(dot(F.col("v"), F.col("v")))
            * F.sqrt(dot(F.col("pv"), F.col("pv")))
        ),
        6,
    )
    scored = cand.select("vec_id", dp.alias("dp"), cos.alias("cos"))
    top_d = ranked_topk(
        scored.select("vec_id", "dp"),
        [F.desc("dp"), F.asc("vec_id")],
        DVC_K,
        rank_col="rd",
    ).select("vec_id", "rd")
    top_c = ranked_topk(
        scored.select("vec_id", "cos"),
        [F.desc("cos"), F.asc("vec_id")],
        DVC_K,
        rank_col="rc",
    ).select("vec_id", "rc")
    inter = top_d.join(top_c, "vec_id")
    iagg = inter.agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        F.sum(F.abs(F.col("rd") - F.col("rc"))).cast("long").alias(
            "footrule_common"
        ),
    )
    return iagg.select(
        F.lit(DVC_K).cast("long").alias("k"),
        F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
        F.round(
            F.col("n_overlap").cast("double")
            / (F.lit(float(2 * DVC_K)) - F.col("n_overlap").cast("double")),
            6,
        ).alias("jaccard"),
        F.coalesce(F.col("footrule_common"), F.lit(0)).alias(
            "footrule_common"
        ),
    )


# ---------------------------------------------------------------------------
# Batch 173: RBF-kernel MMD drift
# ---------------------------------------------------------------------------

MMD_SAMPLE = 128
MMD_SIGMA2 = 4.0  # pinned RBF bandwidth (squared)


def mmd_rbf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel two-sample MMD² between the md5-parity halves of the
    embedding corpus — the distribution-free drift test the moment-
    based embedding_drift_halves screens approximate (Gretton et al.
    2012, public): unbiased MMD² = Σk(x,x')/m(m−1) + Σk(y,y')/n(n−1)
    − 2Σk(x,y)/mn with the RBF kernel exp(−d²/2σ²) at the pinned
    σ² = 4, over 128 md5-ranked samples per half (sample-bounded
    cost, never corpus²).  d² rides the shared sequential dot folds
    rounded 9dp; kernel values fold as 12dp DECIMAL.  One row."""
    from pyspark.sql import Window as _W

    from lucene_mapreduce_spark.operators.parity import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    half = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("mmd:"), F.col("vec_id").cast("string"))
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    keyed = emb.select(
        "vec_id",
        "v",
        half.alias("h"),
        F.md5(F.concat(F.lit("mmds:"), F.col("vec_id").cast("string"))).alias(
            "mk"
        ),
    )
    w = _W.partitionBy("h").orderBy("mk", "vec_id")
    samp = (
        keyed.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= MMD_SAMPLE)
        .select("vec_id", "v", "h")
        .localCheckpoint()
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda s, v: s + v,
        )

    a = samp.select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va"),
        F.col("h").alias("ha"),
    )
    b = samp.select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb"),
        F.col("h").alias("hb"),
    )
    d2 = F.round(
        dot(F.col("va"), F.col("va"))
        + dot(F.col("vb"), F.col("vb"))
        - F.lit(2.0) * dot(F.col("va"), F.col("vb")),
        9,
    )
    k12 = F.round(
        F.exp(-d2 / F.lit(2.0 * MMD_SIGMA2)), 12
    ).cast("decimal(38,12)")
    pairs = a.crossJoin(b).filter(F.col("ia") != F.col("ib")).select(
        "ha", "hb", k12.alias("k")
    )
    agg = pairs.groupBy("ha", "hb").agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("k").cast("double").alias("sk"),
    )
    cnt = samp.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("m"))
    m0 = cnt.filter(F.col("h") == 0).select(F.col("m").alias("m"))
    m1 = cnt.filter(F.col("h") == 1).select(F.col("m").alias("n"))
    sxx = agg.filter((F.col("ha") == 0) & (F.col("hb") == 0)).select(
        F.col("sk").alias("sxx")
    )
    syy = agg.filter((F.col("ha") == 1) & (F.col("hb") == 1)).select(
        F.col("sk").alias("syy")
    )
    sxy = (
        agg.filter(F.col("ha") != F.col("hb"))
        .agg(F.sum(F.col("sk").cast("decimal(38,12)")).cast("double").alias("sxy"))
    )
    j = (
        m0.crossJoin(m1)
        .crossJoin(sxx)
        .crossJoin(syy)
        .crossJoin(sxy)
    )
    mD = F.col("m").cast("double")
    nD = F.col("n").cast("double")
    mmd2 = (
        F.col("sxx") / (mD * (mD - 1))
        + F.col("syy") / (nD * (nD - 1))
        - F.col("sxy") / (mD * nD)
    )
    return j.select(
        F.col("m").alias("m_sample"),
        F.col("n").alias("n_sample"),
        F.round(mmd2, 6).alias("mmd2"),
        F.round(F.sqrt(F.greatest(mmd2, F.lit(0.0))), 6).alias("mmd"),
    )


# ---------------------------------------------------------------------------
# Batch 178: label-centroid stability
# ---------------------------------------------------------------------------


def label_centroid_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid stability across the md5-parity halves of
    the embedding corpus — is each label's centroid an estimate of
    something real, or sampling noise? (the split-half reliability
    idea applied to embedding_centroid_by_label's report): per label,
    the L2 distance between its two half-centroids, with the mean
    distance from the label's full centroid to every OTHER label's as
    the separation baseline — stable labels have within-distance much
    smaller than between.  Per-dim sums ride 6dp DECIMAL
    (label x half x 64 rows); distances are ascending-dim folds.
    Label-bounded output."""
    emb = load(spark, sf_dir, "embeddings")
    half = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("lcs:"), F.col("vec_id").cast("string"))
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(2),
    )
    comp = emb.select(
        "label",
        half.alias("h"),
        F.posexplode(F.col("embedding").cast("array<double>")),
    ).select(
        "label",
        "h",
        F.col("pos").alias("dim"),
        F.round("col", 6).cast("decimal(18,6)").alias("v"),
    )
    per = comp.groupBy("label", "h", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").alias("s"),
    )
    m = per.select(
        "label",
        "h",
        "dim",
        (F.col("s").cast("double") / F.col("n")).alias("m"),
    )
    h0 = m.filter(F.col("h") == 0).select(
        "label", "dim", F.col("m").alias("m0")
    )
    h1 = m.filter(F.col("h") == 1).select(
        "label", "dim", F.col("m").alias("m1")
    )
    within = (
        h0.join(h1, ["label", "dim"])
        .select(
            "label",
            F.round(
                (F.col("m0") - F.col("m1")) * (F.col("m0") - F.col("m1")),
                12,
            ).cast("decimal(38,12)").alias("d2"),
        )
        .groupBy("label")
        .agg(F.sqrt(F.sum("d2").cast("double")).alias("within_dist"))
    )
    full = per.groupBy("label", "dim").agg(
        (F.sum("s").cast("double") / F.sum("n").cast("double")).alias("fm")
    )
    oth = full.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("fm").alias("fmb"),
    )
    between = (
        full.join(oth, "dim")
        .filter(F.col("label") != F.col("label_b"))
        .select(
            "label",
            "label_b",
            F.round(
                (F.col("fm") - F.col("fmb")) * (F.col("fm") - F.col("fmb")),
                12,
            ).cast("decimal(38,12)").alias("d2"),
        )
        .groupBy("label", "label_b")
        .agg(F.sqrt(F.sum("d2").cast("double")).alias("dist"))
        .groupBy("label")
        .agg(
            (
                F.sum(F.round(F.col("dist"), 12).cast("decimal(38,12)"))
                .cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("between_mean")
        )
    )
    cnt = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return (
        cnt.join(within, "label")
        .join(between, "label")
        .select(
            "label",
            "n_vectors",
            F.round("within_dist", 6).alias("within_half_dist"),
            F.round("between_mean", 6).alias("between_label_mean"),
            F.round(
                F.col("within_dist") / F.col("between_mean"), 6
            ).alias("stability_ratio"),
        )
        .orderBy("label")
    )
