"""Distributed BM25 over DataFrames: the scan path and the one Spark
scoring seam.

The same scoring spec as ``bm25.py`` expressed as a declarative DataFrame
plan, so Catalyst handles pushdown/pruning and the shuffle strategy. The
scan path (``bm25_scan_topk``, no prebuilt index) and the index path
(``segments.bm25_index_topk``) both end in ``score_and_topk``; every
other Spark scoring site builds on the three helpers below:

- ``bm25_idf_col``     -- the one Spark idf expression (Spark's ``log``);
- ``bm25_contrib_col`` -- the one per-term contribution expression;
- ``canonical_sum``    -- the determinism rule: per-group float64 sums are
  folded sequentially in ascending key order (sort_array + aggregate), so
  the bits do not depend on partitioning or parallelism.

Scale shape: postings = explode + groupBy(doc, term), so map-side partial
aggregation keeps the shuffle at distinct-(doc, term) volume; the
query-term table is tiny and broadcast, so the corpus never shuffles by
term for scoring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lucene_mapreduce_spark.functions.tokenize import tokenize_col
from lucene_mapreduce_spark.query.bm25 import B, K1


def _col(x: Column | str | float) -> Column:
    if isinstance(x, Column):
        return x
    return F.col(x) if isinstance(x, str) else F.lit(float(x))


def canonical_sum(value: str, *keys: str) -> Column:
    """Aggregate: the float64 sum of ``value`` over the group, folded from
    0.0 in ascending ``keys`` order -- the same bits at any partitioning."""
    return F.aggregate(
        F.sort_array(F.collect_list(F.struct(*keys, value))),
        F.lit(0.0),
        lambda acc, x: acc + x[value],
    )


def bm25_idf_col(df: Column | str, n_docs: Column | str | float) -> Column:
    """ln(1 + (N - df + 0.5) / (df + 0.5)) -- ``bm25.bm25_idf`` in Spark.
    Spark's ``log`` (StrictMath) can differ from libm's ``math.log`` in the
    last bit, so Spark-path scores may sit one ulp off the serving path's."""
    df, n = _col(df), _col(n_docs)
    return F.log(F.lit(1.0) + (n - df + F.lit(0.5)) / (df + F.lit(0.5)))


def bm25_contrib_col(
    tf: Column | str,
    dl: Column | str,
    avgdl: Column | str | float,
    idf: Column,
    k1: float = K1,
    b: float = B,
) -> Column:
    """idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)) --
    ``bm25.bm25_contribution`` in Spark, parenthesized the same way."""
    tf, dl, avgdl = _col(tf), _col(dl), _col(avgdl)
    denom = tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * dl / avgdl)
    return idf * (tf * F.lit(k1 + 1.0)) / denom


def corpus_postings(
    docs: DataFrame,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) for a corpus.

    postings: (doc_id, term, tf)  — one row per distinct (doc, term)
    doclens:  (doc_id, dl)        — token count per doc (0 for empty/null)
    """
    toks = docs.select(
        F.col(doc_col).alias("doc_id"), tokenize_col(text_col).alias("tokens")
    )
    # coalesce: F.size is NULL for NULL text under ANSI — the oracle and the
    # index build both treat those docs as dl=0, so avgdl must include them
    doclens = toks.select(
        "doc_id", F.coalesce(F.size("tokens"), F.lit(0)).alias("dl")
    )
    postings = (
        toks.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return postings, doclens


def bm25_scan_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    doc_col: str = "doc_id",
    text_col: str = "text",
    round_to: int | None = None,
) -> DataFrame:
    """Top-k BM25 for a batch of queries against a corpus DataFrame.

    queries: (query_id string, query_text string). Returns
    (query_id, doc_id, score double, rank int) with rank 1..k ordered by
    (score desc, doc_id asc). ``round_to`` optionally rounds the score for
    cross-engine hash comparison (the DuckDB gate); the pytest oracle uses
    exact float64.
    """
    postings, doclens = corpus_postings(docs, doc_col, text_col)

    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )

    qterms = (
        queries.select(
            "query_id", F.explode(tokenize_col("query_text")).alias("term")
        )
        .distinct()
    )

    # df_t over the full corpus, restricted to the (few) query terms.
    # semi-join first so the term-df aggregation only shuffles matching rows.
    q_term_list = qterms.select("term").distinct()
    df_t = (
        postings.join(F.broadcast(q_term_list), "term", "inner")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )

    matched = (
        postings.join(F.broadcast(qterms), "term", "inner")
        .join(F.broadcast(df_t), "term", "inner")
        .join(doclens, "doc_id", "inner")
        .crossJoin(F.broadcast(stats))
    )
    return score_and_topk(matched, k=k, round_to=round_to)


def _contrib_frame(matched: DataFrame) -> DataFrame:
    """(query_id, doc_id, term, contrib) — the BM25 per-term contribution
    expression, shared by the top-k and all-scores paths."""
    contrib = bm25_contrib_col(
        F.col("tf").cast("double"),
        F.col("dl").cast("double"),
        "avgdl",
        bm25_idf_col("df_t", "n_docs"),
    )
    return matched.select("query_id", "doc_id", F.col("term"), contrib.alias("contrib"))


def exact_scores(
    matched: DataFrame, round_to: int | None = None
) -> DataFrame:
    """(query_id, doc_id, score) for EVERY matched doc — canonical
    ascending-term accumulation, NO ranking window. For operators that
    impose their own (narrower) ranking downstream — collapse partitions
    by group, clustering never ranks globally — so no single-partition
    per-query sort ever materializes."""
    per_doc = _contrib_frame(matched).groupBy("query_id", "doc_id").agg(
        canonical_sum("contrib", "term").alias("score")
    )
    if round_to is not None:
        per_doc = per_doc.withColumn("score", F.round("score", round_to))
    return per_doc


def score_and_topk(
    matched: DataFrame, k: int = 10, round_to: int | None = None
) -> DataFrame:
    """Score a matched-postings frame and take per-query top-k.

    ``matched`` needs columns (query_id, doc_id, term, tf, dl, df_t, n_docs,
    avgdl). Shared by the corpus-scan path and the segment/index path so the
    scoring spec exists exactly once in DataFrame form.

    Two-phase exactness (measured 5x faster than canonically re-summing
    every doc): phase 1 ranks with a plain partial-aggregated F.sum —
    order-nondeterministic only in the last float64 ulps; phase 2 exactly
    rescores (canonical ascending-term accumulation) every doc whose
    approximate score is within EPS of the k-th, where EPS (1e-9) exceeds
    worst-case summation error by orders of magnitude. Ties far wider than
    float error (e.g. identical documents) all fall inside the margin, so
    the final (score desc, doc_id asc) top-k is bit-identical to the oracle.
    """
    # No persist anywhere in this plan (guide §5): the contrib and approx
    # frames are ROW-SCALE (one row per matched (query, doc[, term])), and
    # pinning them in executor storage squeezes execution memory for the
    # very aggregation/window that reads them — measured 42 s vs 28 s on
    # the 10k-query batch leg with/without the persists, and the pressure
    # compounds across a long-lived session. The kth-probe branch and the
    # candidate branch share one identical groupBy subtree, so Spark's
    # ReusedExchange dedupes that shuffle at runtime; only the phase-2
    # rescore recomputes the (cheap, column-pruned) posting decode.
    scored = _contrib_frame(matched)

    eps = 1e-9
    # phase 1 runs on the non-null (query_id, doc_id) keyspace, declared
    # ONCE here: the kth-probe branch and the candidate branch otherwise
    # end up with DIFFERENT pushed-down null filters (the left join pushes
    # isnotnull(query_id) into kth's subtree, the phase-2 semi join pushes
    # isnotnull on both keys into cand's), and that one-conjunct difference
    # defeats canonicalized-subtree equality — AQE then materializes the
    # same decode+partial-aggregation shuffle TWICE. With the filters
    # declared on the shared frame both branches canonicalize identically
    # and the second branch becomes a ReusedExchange (verified in the
    # executed plan). Join keys are never null here: query_id comes from
    # the literal query frame, doc_id from the posting decode.
    nn = scored.filter(
        F.col("query_id").isNotNull() & F.col("doc_id").isNotNull()
    )
    approx = nn.groupBy("query_id", "doc_id").agg(F.sum("contrib").alias("s_ap"))
    w_ap = Window.partitionBy("query_id").orderBy(
        F.col("s_ap").desc(), F.col("doc_id").asc()
    )
    # rn == k is a rank-limit filter: Spark's WindowGroupLimit maintains a
    # per-partition top-k heap map-side instead of fully sorting every
    # query's candidate set. The candidate filter below deliberately joins
    # approx (not the ranked frame) so the ranking window is evaluated
    # exactly once — the previous shape re-ran the full per-query sort a
    # second time just to carry an unused rn column into the filter.
    kth = (
        approx.withColumn("rn", F.row_number().over(w_ap))
        .filter(F.col("rn") == k)
        .select("query_id", F.col("s_ap").alias("kth_s"))
    )
    cand = (
        approx.join(F.broadcast(kth), "query_id", "left")
        .filter(F.col("kth_s").isNull() | (F.col("s_ap") >= F.col("kth_s") - F.lit(eps)))
        .select("query_id", "doc_id")
    )

    # exact canonical rescore of the (tiny) candidate set
    per_doc = (
        # AQE broadcasts cand at runtime when it is small (usual case);
        # adversarially tie-heavy corpora fall back to a shuffled semi-join
        scored.join(cand, ["query_id", "doc_id"], "left_semi")
        .groupBy("query_id", "doc_id")
        .agg(canonical_sum("contrib", "term").alias("score"))
    )

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    out = (
        per_doc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out.select("query_id", "doc_id", "score", "rank")
