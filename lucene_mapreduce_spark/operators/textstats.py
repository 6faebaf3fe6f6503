"""Text analysis operators for training-data pipelines.

Language-ID (stopword-membership heuristic), quality scoring (length /
punctuation / stopword / word-shape ratios), token counting (whitespace +
word-ish regex), and k-gram document fingerprinting. All pure built-in
expressions (JVM codegen, no UDFs) with DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_mapreduce_spark.functions.tokenize import tokenize_col
from lucene_mapreduce_spark.operators.parity import load
from lucene_mapreduce_spark.query.bm25_df import canonical_sum

# tiny deterministic stopword lists (shared literal sets with the oracle SQL)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "en", "que", "es", "un"],
    "de": ["der", "die", "das", "und", "in", "zu", "ist", "ein"],
    "fr": ["le", "la", "de", "et", "en", "que", "est", "un"],
}


def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: argmax over languages of the fraction of
    tokens in that language's stopword list; 'und' (undetermined) when no
    stopword hits at all. The synthetic corpus is mostly English-ish tokens,
    so 'und'/'en' dominate — determinism is what the gate checks."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    scores = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in ws]))).alias(lang)
        for lang, ws in STOPWORDS.items()
    ]
    scored = docs.select("doc_id", *scores)
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(lang) for lang in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:  # first language (dict order) wins ties — pinned
        pred = pred.when(F.col(lang) == best, F.lit(lang))
    return scored.select("doc_id", pred.alias("pred_lang"))


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: token count, mean token length, punctuation ratio,
    stopword ratio, alpha ratio, and a pinned linear score. Every feature is
    a codegen'd expression over one scan."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    n_tok = F.size(toks)
    n_char = F.length(F.col("text"))
    n_punct = n_char - F.length(F.regexp_replace(F.col("text"), "[.,;:!?]", ""))
    n_alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
    safe_tok = F.greatest(n_tok, F.lit(1))
    safe_char = F.greatest(n_char, F.lit(1))
    mean_len = (n_char - (n_tok - 1)) / safe_tok
    score = (
        F.lit(0.4) * F.least(n_tok / F.lit(50.0), F.lit(1.0))
        + F.lit(0.3) * (n_alpha / safe_char)
        + F.lit(0.2) * (F.lit(1.0) - n_punct / safe_char)
        + F.lit(0.1) * F.least(n_stop / safe_tok * F.lit(5.0), F.lit(1.0))
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(n_punct / safe_char, 6).alias("punct_ratio"),
        F.round(n_alpha / safe_char, 6).alias("alpha_ratio"),
        F.round(n_stop / safe_tok, 6).alias("stopword_ratio"),
        F.round(score, 6).alias("quality"),
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens (the analyzer) and a
    BPE-ish word/punct regex count (regexp_count of `[a-zA-Z0-9]+|[^a-zA-Z0-9 ]`)
    — the standard pre-tokenizer proxy for LLM token estimation."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokenize_col("text")).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit("[a-zA-Z0-9]+|[^a-zA-Z0-9 ]")).alias(
            "bpe_ish_tokens"
        ),
    )


def token_windows(
    spark: SparkSession, sf_dir: str, window: int = 50, stride: int = 25
) -> DataFrame:
    """Context-window chunking: split each document's token stream into
    overlapping windows of `window` tokens every `stride` — the packing
    stage of an LLM training-data pipeline (long doc -> training
    contexts). One scan, pure codegen (sequence/explode/slice): at 100 TB
    this is an embarrassingly parallel map with output ~window/stride x
    input, no shuffle at all."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    starts = F.when(
        F.size(toks) > 0,
        F.sequence(F.lit(1), F.size(toks), F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select("doc_id", toks.alias("toks"), F.explode(starts).alias("start"))
        .select(
            "doc_id",
            F.expr(f"CAST((start - 1) DIV {stride} AS INT)").alias("win_idx"),
            F.size(F.slice("toks", F.col("start"), window))
            .cast("long")
            .alias("n_tokens"),
            F.array_join(F.slice("toks", F.col("start"), window), " ").alias(
                "window_text"
            ),
        )
    )


def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style per-document quality rules — the repetition and
    shape filters an LLM corpus curation pass applies before training:

    - n_tokens and mean token length (too short / too long / gibberish)
    - frac_dup_3gram: fraction of intra-doc 3-grams that are repeats
      (boilerplate and looping text)
    - top_token_frac: share of the most frequent token (degenerate docs)
    - keep: the conjunction of documented thresholds

    Everything is a per-row codegen expression over the token array — no
    shuffle, no UDF; the keep filter pushes work nowhere because there is
    no exchange to push past (embarrassingly parallel at any scale)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    n = F.size(toks)
    mean_len = F.when(
        n > 0,
        F.round(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
            ).cast("double")
            / n,
            6,
        ),
    ).otherwise(F.lit(0.0))
    tg_total = F.greatest(n - F.lit(2), F.lit(0))
    threegrams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(2)),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup3 = F.when(
        tg_total > 0,
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(threegrams)).cast("double") / tg_total,
            6,
        ),
    ).otherwise(F.lit(0.0))
    # longest equal-run over the SORTED token array = max token count —
    # O(dl) per doc (a distinct x filter scan would be O(distinct * dl),
    # quadratic on adversarially long repetitive docs)
    run_state = F.aggregate(
        F.array_sort(toks),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_frac = F.when(
        n > 0,
        F.round(run_state.cast("double") / n, 6),
    ).otherwise(F.lit(0.0))
    out = docs.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        mean_len.alias("mean_token_len"),
        dup3.alias("frac_dup_3gram"),
        top_frac.alias("top_token_frac"),
    )
    keep = (
        (F.col("n_tokens") >= 5)
        & (F.col("n_tokens") <= 10000)
        & (F.col("mean_token_len") >= 2.0)
        & (F.col("mean_token_len") <= 12.0)
        & (F.col("frac_dup_3gram") <= 0.3)
        & (F.col("top_token_frac") <= 0.3)
    )
    return out.withColumn("keep", keep)


NGRAM_TOP_K = 20


def ngram_counts(
    spark: SparkSession, sf_dir: str, k: int = NGRAM_TOP_K
) -> DataFrame:
    """Top-k corpus bigrams with PMI — the collocation-mining stage of a
    training-data pipeline (and the stats a tokenizer-merge step starts
    from). Bigrams come from one codegen pass (zip_with over shifted
    slices, no UDF); counts are map-side-combinable groupBys; PMI =
    ln((c_xy/T) / ((c_x/U)^2-style independence)) with U = total token
    occurrences, T = total bigram occurrences. Ranked (count desc, ngram
    asc) for determinism; PMI rounded 6dp on both engines."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        docs.select(F.explode(bigrams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    uni = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = uni.agg(
        F.sum("c").alias("u_tot")
    ).crossJoin(bi.agg(F.sum("c_xy").alias("t_tot")))
    parts = F.split(F.col("ngram"), " ")
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    scored = (
        bi.withColumn("x", parts[0])
        .withColumn("y", parts[1])
        # vocab-sized dims: plain equi-joins on the term key (AQE
        # broadcasts when small; a 10^7-term vocab at 100 TB shuffles —
        # one row per bigram either way, no skew amplification)
        .join(uni.selectExpr("tok AS x", "c AS c_x"), "x")
        .join(uni.selectExpr("tok AS y", "c AS c_y"), "y")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("c_xy") / F.col("t_tot"))
                    / (
                        (F.col("c_x") / F.col("u_tot"))
                        * (F.col("c_y") / F.col("u_tot"))
                    )
                ),
                6,
            ),
        )
    )
    return ranked_topk(
        scored, [F.desc("c_xy"), F.asc("ngram")], k
    ).select("ngram", F.col("c_xy").cast("long").alias("n_occ"), "pmi", "rank")


def stratified_sample(
    spark: SparkSession, sf_dir: str, pct_by_source: dict[str, int] | None = None,
    default_pct: int = 25,
) -> DataFrame:
    """Deterministic stratified sampling — the reproducible alternative to
    RNG sampling for training-data mixes: a doc is kept iff its md5-derived
    bucket (first two hex digits of md5(doc_id), 256 buckets) falls under
    its source's percentage. Same doc set on ANY engine, any run, any
    cluster size; per-stratum rates are the dataset-mixing weights. Pure
    codegen expressions, no shuffle — the filter pushes to the scan."""
    docs = load(spark, sf_dir, "documents")
    # bucket in [0, 256): first two hex digits of md5(doc_id as string)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")
    pct = F.lit(default_pct)
    for src, p in (pct_by_source or {}).items():
        pct = F.when(F.col("source") == src, F.lit(p)).otherwise(pct)
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") * 100 < pct * 256)
        .select("doc_id", "source", "bucket")
    )


def token_length_histogram(
    spark: SparkSession, sf_dir: str, bucket_width: int = 10
) -> DataFrame:
    """Token-length distribution per source: histogram buckets of the
    whitespace token count — the length-mix report every corpus curation
    run starts from. One map-side-combinable groupBy."""
    docs = load(spark, sf_dir, "documents")
    dl = F.coalesce(F.size(tokenize_col("text")), F.lit(0))
    return (
        docs.select(
            "source",
            (F.floor(dl / F.lit(bucket_width)) * bucket_width)
            .cast("long")
            .alias("len_bucket"),
        )
        .groupBy("source", "len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-gram document fingerprint: the minimum md5 over character 8-grams
    (stride 4) — a winnowing-style rolling fingerprint; equal fingerprints
    => high overlap candidates. Pure expressions (sequence + transform)."""
    docs = load(spark, sf_dir, "documents")
    n = F.length("text")
    starts = F.sequence(F.lit(1), F.greatest((n - 7), F.lit(1)), F.lit(4))
    return docs.select(
        "doc_id",
        F.array_min(
            F.transform(starts, lambda i: F.md5(F.substr(F.col("text"), i, F.lit(8))))
        ).alias("fingerprint"),
    )


DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"


def dsir_importance_weights(
    spark: SparkSession,
    sf_dir: str,
    target_lang: str = DSIR_TARGET_LANG,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — public): per-doc
    log-importance weight log p_target(doc) - log p_raw(doc) under hashed
    bigram bag-of-ngrams models, Laplace-smoothed. The target distribution
    is estimated from the in-corpus slice lang == target_lang (stand-in
    for an external high-quality corpus; the plan is identical with any
    target DataFrame), the raw distribution from the whole corpus.
    Pipelines resample raw data with probability ∝ exp(weight) to tilt the
    mix toward the target domain.

    Plan shape: bigrams hash to ``n_buckets`` md5-derived buckets (same
    idiom as stratified_sample — engine-portable, no xxhash); ONE
    map-side-combinable groupBy(bucket) estimates both distributions (256
    rows); the per-doc rollup joins the exploded gram stream against the
    256-row log-ratio table — broadcast by size, so the only shuffle on
    the big side is the final groupBy(doc_id). No collect, no self-join;
    bucket count is a constant, so skew is bounded by design. LLM-pipeline
    surface beyond the reference (no analogue)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    idx = F.sequence(F.lit(1), F.size(toks) - 1)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    g = (
        docs.filter(F.size(toks) >= 2)
        .select("doc_id", "lang", F.explode(grams).alias("gram"))
        .select(
            "doc_id",
            "lang",
            F.conv(F.substring(F.md5("gram"), 1, 2), 16, 10)
            .cast("int")
            .alias("bucket"),
        )
    )
    counts = g.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == target_lang, 1).otherwise(0)).alias("t_b"),
        F.count(F.lit(1)).alias("r_b"),
    )
    totals = counts.agg(
        F.sum("t_b").alias("t_tot"), F.sum("r_b").alias("r_tot")
    )
    log_ratio = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("t_b") + 1.0) / (F.col("t_tot") + float(n_buckets)))
            - F.log((F.col("r_b") + 1.0) / (F.col("r_tot") + float(n_buckets)))
        ).alias("lr"),
    )
    # canonical accumulation (house rule, see query/bm25.py): one term per
    # (doc, bucket), summed sequentially in ascending-bucket order — the
    # per-doc weight is bit-deterministic across runs and partitionings
    per_bucket = (
        g.groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c_b"))
        .join(F.broadcast(log_ratio), "bucket")
        .select(
            "doc_id",
            "c_b",
            F.struct(F.col("bucket"), (F.col("c_b") * F.col("lr")).alias("term"))
            .alias("bt"),
        )
    )
    return (
        per_bucket.groupBy("doc_id")
        .agg(
            F.sum("c_b").alias("n_grams"),
            F.sort_array(F.collect_list("bt")).alias("bts"),
        )
        .select(
            "doc_id",
            "n_grams",
            F.round(
                F.aggregate(
                    "bts", F.lit(0.0), lambda acc, x: acc + x["term"]
                ),
                6,
            ).alias("weight"),
        )
    )


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under a corpus-trained unigram language model
    (Laplace-smoothed) — the distributable stand-in for CCNet-style LM
    perplexity filtering (Wenzek et al. 2020, public): pipelines bucket
    docs by cross-entropy and drop the worst tail (gibberish, boilerplate,
    non-linguistic noise).  Cross-entropy rather than perplexity is
    reported: exp() would amplify last-ulp summation noise past the 6-dp
    rounding the gate hashes.

    Plan shape: ONE map-side-combinable groupBy(term) trains the model
    (vocab-sized, stays distributed); the per-doc rollup equi-joins the
    per-(doc, term) counts against it (AQE broadcasts when the vocab is
    small, sort-merge when it is not — never forced); the per-doc sum is
    canonically ascending-term (house determinism rule, see query/bm25.py)
    so the score is bit-stable across runs and partitionings.  No collect,
    no self-join, no UDF.  LLM-pipeline surface beyond the reference
    (nearest shape: per-key aggregation, XdiDetail.pig:45)."""
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
    )
    model = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    totals = model.agg(
        F.sum("cf").alias("n_total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    logp = model.crossJoin(F.broadcast(totals)).select(
        "term",
        F.log(
            (F.col("cf") + 1.0) / (F.col("n_total") + F.col("vocab"))
        ).alias("lp"),
    )
    per_term = (
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c_t"))
        .join(logp, "term")
        .select(
            "doc_id",
            "c_t",
            F.struct(F.col("term"), (F.col("c_t") * F.col("lp")).alias("v"))
            .alias("tv"),
        )
    )
    return (
        per_term.groupBy("doc_id")
        .agg(
            F.sum("c_t").alias("n_tokens"),
            F.sort_array(F.collect_list("tv")).alias("tvs"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                -F.aggregate("tvs", F.lit(0.0), lambda a, x: a + x["v"])
                / F.col("n_tokens"),
                6,
            ).alias("cross_entropy"),
        )
    )


QUALITY_KEEP_THRESHOLD = 0.8


def domain_quality_rollup(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = QUALITY_KEEP_THRESHOLD,
) -> DataFrame:
    """Domain-level quality aggregation (the FineWeb/DCLM pattern: filter
    decisions reviewed per SOURCE, not per doc — a domain whose keep-rate
    collapses signals a systematically bad feed). Per source: doc count,
    mean quality, and the keep-rate at the pipeline threshold. The mean
    accumulates 6dp-rounded per-doc scores as DECIMAL(18,6) — order-free
    exact arithmetic (the events_rollup rule), so the result is
    bit-stable at any parallelism; one map-side-combinable groupBy over
    the quality_score scan."""
    from lucene_mapreduce_spark.operators.parity import load

    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    j = src.join(q, "doc_id").select(
        "source",
        F.col("quality").cast("decimal(18,6)").alias("qd"),
        F.when(F.col("quality") >= threshold, 1).otherwise(0).alias("keep"),
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("qd").cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_quality"),
            F.round(
                F.sum("keep").cast("double") / F.count(F.lit(1)), 6
            ).alias("keep_rate"),
        )
        .orderBy("source")
    )


def weighted_avg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `weighted_avg` aggregation: per-lang mean chars-per-token
    weighted by each doc's token count — i.e. sum(n_chars)/sum(dl), the
    corpus-true average a plain doc-level mean of ratios would bias
    toward short docs. Both sums are BIGINT-exact (order-free), the
    division is one IEEE op on identical operands — bit-stable at any
    parallelism. One map-side-combinable groupBy over the corpus scan."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "lang",
        F.col("n_chars").cast("long").alias("chars"),
        F.size(tokenize_col("text")).cast("long").alias("dl"),
    )
    return (
        base.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("chars").cast("double") / F.sum("dl").cast("double"), 6
            ).alias("w_chars_per_token"),
        )
        .orderBy("lang")
    )


# ----------------------------------------------------------- PII redaction
PII_PATTERN = r"\b(customer|key|hash)\b"  # gate stand-in; prod swaps an
PII_MASK = "[X]"  # email/phone/ssn alternation — same plumbing


def pii_redaction(
    spark: SparkSession,
    sf_dir: str,
    pattern: str = PII_PATTERN,
    mask: str = PII_MASK,
) -> DataFrame:
    """PII scrubbing pass of a training-data pipeline: count and mask
    every match of a sensitive-entity regex per document. The gate's
    pattern targets the synthetic vocabulary (the corpus carries no real
    PII); a production run swaps in the email/phone/ssn alternation —
    the plumbing (one codegen scan, regexp_count + regexp_replace
    global, md5 witness of the scrubbed text) is identical. Shuffle-free
    map at any scale."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(pattern)).cast("long").alias(
            "n_redacted"
        ),
        F.md5(F.regexp_replace(F.col("text"), pattern, mask)).alias(
            "clean_md5"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------- source frequency cap
SOURCE_CAP = 3  # max docs kept per source


def source_frequency_cap(
    spark: SparkSession, sf_dir: str, cap: int = SOURCE_CAP
) -> DataFrame:
    """Per-domain frequency capping (the C4/RefinedWeb move against
    boilerplate-heavy hosts): keep at most `cap` documents per source,
    deterministically the lowest doc_ids — a reproducible sample, not a
    random one. The ranking window partitions BY SOURCE, so at 100 TB
    each domain ranks independently inside its shuffle partition and
    the output is cap x n_sources rows."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select("source", "doc_id")
    w = Window.partitionBy("source").orderBy(F.asc("doc_id"))
    return (
        docs.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= cap)
        .select("source", "doc_id", F.col("pos").alias("rank"))
        .orderBy("source", "rank")
    )


# ------------------------------------------------- mixture-weight sampling
MIXTURE_ALPHA_DOC = "sqrt"  # alpha = 0.5 (T=2 temperature sampling)


def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weighting across sources (the
    multilingual-sampling rule of mC4/XLM-R, alpha = 0.5): each source's
    sampling weight is sqrt(token_count) normalized over all sources —
    upweights the tail, damps the head. sqrt of a BIGINT is
    correctly-rounded IEEE (identical in every engine — the reason the
    gate pins alpha at 0.5 rather than a pow()); the 6dp-rounded weights
    accumulate as DECIMAL(18,6), so the normalizer is order-free exact
    and the final division is one IEEE op on identical operands. One
    map-side-combinable groupBy + a broadcast one-row total."""
    docs = load(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", F.size(tokenize_col("text")).cast("long").alias("dl"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").alias("n_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.sqrt(F.col("n_tokens").cast("double")), 6)
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    z = per_src.agg(F.sum("w").alias("z"))
    return (
        per_src.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("w").cast("double") / F.col("z").cast("double"), 6
            ).alias("weight"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------- percentile ranks
PERCENTILE_RANK_VALUES = (150, 300, 450)  # n_chars thresholds


def percentile_ranks_agg(
    spark: SparkSession,
    sf_dir: str,
    values: tuple[int, ...] = PERCENTILE_RANK_VALUES,
) -> DataFrame:
    """ES `percentile_ranks` aggregation: for each probe value, the
    percentage of documents whose n_chars is at or below it — the
    inverse of the percentiles agg (dl_percentiles is the forward
    face). Exact counting (ES's TDigest is approximate; at gate scale
    the exact answer IS the spec), one conditional aggregate per probe
    over a single scan, BIGINT counts divided once."""
    docs = load(spark, sf_dir, "documents")
    aggs = [
        F.round(
            F.sum(F.when(F.col("n_chars") <= v, 1).otherwise(0)).cast("double")
            * 100.0
            / F.count(F.lit(1)),
            6,
        ).alias(str(v))
        for v in values
    ]
    wide = docs.agg(*aggs)
    pairs = [
        F.struct(
            F.lit(float(v)).alias("value"), F.col(str(v)).alias("pct")
        )
        for v in values
    ]
    return (
        wide.select(F.explode(F.array(*pairs)).alias("kv"))
        .select("kv.value", "kv.pct")
        .orderBy("value")
    )


def string_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `string_stats` aggregation (show_distribution=true) over the
    text field: doc count, min/max/avg length, and the Shannon entropy
    of the corpus token distribution (ES computes character entropy; the
    analyzer-token variant is the LM-relevant one here and uses the
    postings shape). Entropy terms -p·ln(p) are 6dp-rounded then summed
    as DECIMAL — order-free, so the only float ops are one ln and one
    multiply per VOCAB ENTRY on identical IEEE inputs. Lengths sum as
    BIGINTs; everything is one corpus scan + one vocab-sized rollup."""
    docs = load(spark, sf_dir, "documents")
    lens = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min(F.length("text")).cast("long").alias("min_len"),
        F.max(F.length("text")).cast("long").alias("max_len"),
        F.round(
            F.sum(F.length("text")).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_len"),
    )
    tok = docs.select(F.explode(tokenize_col("text")).alias("term"))
    cf = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("cf"))
    total = cf.agg(F.sum("cf").cast("double").alias("total"))
    ent = (
        cf.crossJoin(F.broadcast(total))
        .select(
            F.round(
                -(F.col("cf") / F.col("total"))
                * F.log(F.col("cf") / F.col("total")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("h")
        )
        .agg(F.round(F.sum("h").cast("double"), 6).alias("unigram_entropy"))
    )
    return lens.crossJoin(F.broadcast(ent))


def extended_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `extended_stats` aggregation over n_chars: count, min, max,
    sum, avg, sum_of_squares, population variance, std deviation, and
    the sigma=2 bounds. Every accumulator is a BIGINT sum of integers
    (order-free exact); the moment arithmetic — (ssq - n*m^2)/n — is a
    fixed IEEE chain on identical operands in both engines, so 6dp
    rounding hash-matches. One map-side-combinable aggregate."""
    docs = load(spark, sf_dir, "documents")
    g = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("ssq"),
    )
    n = F.col("n_docs").cast("double")
    m = F.col("sum_chars").cast("double") / n
    var = (F.col("ssq").cast("double") - n * m * m) / n
    return g.select(
        "n_docs",
        "min_chars",
        "max_chars",
        "sum_chars",
        F.round(m, 6).alias("avg_chars"),
        F.col("ssq").alias("sum_of_squares"),
        F.round(var, 6).alias("variance"),
        F.round(F.sqrt(var), 6).alias("std_deviation"),
        F.round(m + F.lit(2.0) * F.sqrt(var), 6).alias("std_upper"),
        F.round(m - F.lit(2.0) * F.sqrt(var), 6).alias("std_lower"),
    )


def boxplot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `boxplot` aggregation per lang over n_chars: min, q1, median,
    q3, max, IQR. Quartiles are exact type-7 (linear-interpolated)
    order statistics — Spark `percentile` and DuckDB `quantile_cont`
    share the definition to float64 (the dl_percentiles contract); ES's
    TDigest is approximate, so the exact answer IS the spec at gate
    scale. Per-group percentile sorts stay inside each lang partition."""
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.expr("percentile(n_chars, array(0.25, 0.5, 0.75))").alias("qs"),
    )
    q1 = F.element_at("qs", 1)
    q2 = F.element_at("qs", 2)
    q3 = F.element_at("qs", 3)
    return g.select(
        "lang",
        "n_docs",
        "min_chars",
        F.round(q1, 6).alias("q1"),
        F.round(q2, 6).alias("q2"),
        F.round(q3, 6).alias("q3"),
        "max_chars",
        F.round(q3 - q1, 6).alias("iqr"),
    ).orderBy("lang")


def mad_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `median_absolute_deviation` aggregation per lang over n_chars:
    median of |x - median(x)|, both medians exact type-7 (ES's TDigest
    variant is approximate — exact is the spec here). Two grouped
    percentile passes; the per-lang medians re-attach via a broadcast
    join (lang cardinality is tiny), so the second pass is one more
    shuffle-free scan."""
    docs = load(spark, sf_dir, "documents").select("lang", "n_chars")
    med = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med")
    )
    dev = docs.join(F.broadcast(med), "lang").select(
        "lang", F.abs(F.col("n_chars").cast("double") - F.col("med")).alias("ad")
    )
    return (
        dev.groupBy("lang")
        .agg(F.round(F.expr("percentile(ad, 0.5)"), 6).alias("mad"))
        .join(med.select("lang", F.round("med", 6).alias("median_chars")), "lang")
        .select("lang", "median_chars", "mad")
        .orderBy("lang")
    )


def matrix_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `matrix_stats` aggregation over the field pair
    (n_chars, token count): counts, means, sample variances, covariance,
    and Pearson correlation. Both fields are integers, so all five
    accumulators (sums, both sums of squares, the cross-product sum) are
    BIGINT-exact and order-free; the moment formulas then run as an
    identical IEEE chain in both engines. One aggregate over one scan —
    the tokenizer supplies y without a second pass."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        F.col("n_chars").cast("long").alias("x"),
        F.size(tokenize_col("text")).cast("long").alias("y"),
    )
    g = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_docs").cast("double")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n
    vx = (F.col("sxx").cast("double") - n * mx * mx) / (n - F.lit(1.0))
    vy = (F.col("syy").cast("double") - n * my * my) / (n - F.lit(1.0))
    cov = (F.col("sxy").cast("double") - n * mx * my) / (n - F.lit(1.0))
    return g.select(
        "n_docs",
        F.round(mx, 6).alias("mean_chars"),
        F.round(my, 6).alias("mean_tokens"),
        F.round(vx, 6).alias("var_chars"),
        F.round(vy, 6).alias("var_tokens"),
        F.round(cov, 6).alias("covariance"),
        F.round(cov / F.sqrt(vx * vy), 6).alias("correlation"),
    )


FILTERS_BUCKETS = (("short", 0, 220), ("medium", 220, 380), ("long", 380, None))


def filters_agg(
    spark: SparkSession,
    sf_dir: str,
    buckets: tuple = FILTERS_BUCKETS,
) -> DataFrame:
    """ES `filters` aggregation: named predicate buckets (here n_chars
    length bands, exhaustive by construction — the ES `other_bucket`
    slot would catch anything unmatched) each reporting its doc count
    and mean length. The bands are disjoint, so one CASE projection +
    one combinable groupBy covers every bucket in a single scan — never
    one filtered pass per named bucket."""
    docs = load(spark, sf_dir, "documents")
    key = None
    for name, lo, hi in buckets:
        cond = F.col("n_chars") >= lo
        if hi is not None:
            cond = cond & (F.col("n_chars") < hi)
        key = F.when(cond, name) if key is None else key.when(cond, name)
    base = docs.select(key.otherwise("other").alias("key"), "n_chars")
    return (
        base.groupBy("key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_chars"),
        )
        .orderBy("key")
    )


def _md5_52(col):
    """52-bit integer from the md5 hex prefix — the engine-shared hash
    (DuckDB twin: _MD5_52 in oracles.py)."""
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def linear_classifier_topk(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """Hashed linear text classifier (the fastText-style quality-filter
    shape of a training pipeline): score(doc) = sum_t tf_t * w(t) with
    w(t) = (md5_52(t) mod 2001 - 1000) / 1000 — a deterministic stand-in
    weight table; a production run swaps in learned weights via the same
    hashing-trick lookup (no vocabulary broadcast, the hash IS the
    table). All arithmetic below the final divide is INTEGER (tf x
    per-mille weight, BIGINT sums) — order-free exact at any
    parallelism. Top-k most 'positive' docs + the sign label."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w_milli = F.pmod(_md5_52(F.col("term")), F.lit(2001)) - F.lit(1000)
    per_doc = (
        tf.select("doc_id", (F.col("tf") * w_milli).alias("contrib_milli"))
        .groupBy("doc_id")
        .agg(F.sum("contrib_milli").cast("long").alias("milli"))
        .select(
            "doc_id",
            F.round(F.col("milli").cast("double") / F.lit(1000.0), 6).alias(
                "score"
            ),
            F.when(F.col("milli") > 0, "keep").otherwise("drop").alias("label"),
        )
    )
    return ranked_topk(per_doc, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "label", "rank"
    )


SAMPLER_SHARDS = 4
SAMPLER_PER_SHARD = 25


def sampler_agg(
    spark: SparkSession,
    sf_dir: str,
    n_shards: int = SAMPLER_SHARDS,
    per_shard: int = SAMPLER_PER_SHARD,
) -> DataFrame:
    """ES `sampler` aggregation: sub-aggregate over only the FIRST
    shard_size docs per shard instead of the full hit set (ES's
    cost-capped facet). Shard = doc_id mod n (the gate's shard model,
    like terms_shard_approx); 'first' = lowest doc_id — ES takes
    first-seen segment order, which a deterministic engine must pin.
    The per-shard cut is a WindowGroupLimit (map-side prunable), the
    sub-agg (lang counts) runs over <= n*shard_size survivors."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.pmod("doc_id", F.lit(n_shards)).alias("shard")
    )
    w = Window.partitionBy("shard").orderBy(F.asc("doc_id"))
    sampled = docs.withColumn("pos", F.row_number().over(w)).filter(
        F.col("pos") <= per_shard
    )
    return (
        sampled.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sampled"))
        .orderBy("lang")
    )


GEO_CENTER = (40.7, -74.0)  # query point (lat, lon)
GEO_MAX_KM = 8000.0


def geo_distance_query(
    spark: SparkSession,
    sf_dir: str,
    center: tuple[float, float] = GEO_CENTER,
    max_km: float = GEO_MAX_KM,
    k: int = 10,
) -> DataFrame:
    """ES `geo_distance` query + sort: docs within max_km of a point,
    nearest first. The corpus has no geo field, so coordinates derive
    deterministically from the doc id via the engine-shared md5 hash
    (lat in [-90,90], lon in [-180,180] at 1e-4 degree grid) — the
    Spark-side plumbing (haversine in codegen, filter + distance sort)
    is exactly what a real lat/lon column gets. Ranking uses the
    3dp-ROUNDED distance with a doc_id tie-break (the random_score
    lesson: never rank on unrounded floats across engines). Shuffle-free
    scan + bounded top-k."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    clat, clon = center
    docs = load(spark, sf_dir, "documents").select("doc_id")
    lat = (
        F.pmod(_md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":lat"))),
               F.lit(1800001)).cast("double") / F.lit(10000.0) - F.lit(90.0)
    )
    lon = (
        F.pmod(_md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":lon"))),
               F.lit(3600001)).cast("double") / F.lit(10000.0) - F.lit(180.0)
    )
    base = docs.select("doc_id", lat.alias("lat"), lon.alias("lon"))
    dphi = F.radians(F.col("lat") - F.lit(float(clat))) / F.lit(2.0)
    dlmb = F.radians(F.col("lon") - F.lit(float(clon))) / F.lit(2.0)
    a = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians(F.lit(float(clat))))
        * F.cos(F.radians(F.col("lat")))
        * F.sin(dlmb)
        * F.sin(dlmb)
    )
    dist = F.round(F.lit(2.0 * 6371.0) * F.asin(F.sqrt(a)), 3)
    hits = base.select(
        "doc_id",
        F.round("lat", 4).alias("lat"),
        F.round("lon", 4).alias("lon"),
        dist.alias("dist_km"),
    ).filter(F.col("dist_km") <= max_km)
    return ranked_topk(hits, [F.asc("dist_km"), F.asc("doc_id")], k).select(
        "doc_id", "lat", "lon", "dist_km", "rank"
    )


def _geo_coords(docs: DataFrame) -> DataFrame:
    """md5-derived deterministic (lat, lon) per doc — the shared synthetic
    geo field (geo_distance_query documents the contract)."""
    lat = (
        F.pmod(_md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":lat"))),
               F.lit(1800001)).cast("double") / F.lit(10000.0) - F.lit(90.0)
    )
    lon = (
        F.pmod(_md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":lon"))),
               F.lit(3600001)).cast("double") / F.lit(10000.0) - F.lit(180.0)
    )
    return docs.select("doc_id", lat.alias("lat"), lon.alias("lon"))


GEO_BOX = (20.0, 60.0, -100.0, -40.0)  # lat_lo, lat_hi, lon_lo, lon_hi


def geo_bounding_box_query(
    spark: SparkSession,
    sf_dir: str,
    box: tuple[float, float, float, float] = GEO_BOX,
    k: int = 20,
) -> DataFrame:
    """ES `geo_bounding_box` query: docs whose point falls inside the
    box, first k by doc id. Pure codegen comparisons over the derived
    coordinates (a real geo column scans identically); the box predicate
    would push into a parquet scan of materialized lat/lon columns."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    lat_lo, lat_hi, lon_lo, lon_hi = box
    pts = _geo_coords(load(spark, sf_dir, "documents"))
    hits = pts.filter(
        (F.col("lat") >= lat_lo) & (F.col("lat") <= lat_hi)
        & (F.col("lon") >= lon_lo) & (F.col("lon") <= lon_hi)
    ).select(
        "doc_id", F.round("lat", 4).alias("lat"), F.round("lon", 4).alias("lon")
    )
    return ranked_topk(hits, [F.asc("doc_id")], k).select(
        "doc_id", "lat", "lon", "rank"
    )


GEOTILE_ZOOM = 4
_MERC_MAX_LAT = 85.05112878
_PI_LIT = 3.141592653589793  # shared literal — never each engine's pi()


def geotile_grid_agg(
    spark: SparkSession,
    sf_dir: str,
    zoom: int = GEOTILE_ZOOM,
    k: int = 10,
) -> DataFrame:
    """ES `geotile_grid` aggregation: Web-Mercator z/x/y tile keys at
    `zoom`, doc counts per tile, top-k tiles. Latitude clamps to the
    Mercator limit (ES's convention); x/y derive from the shared literal
    pi so both engines floor the same doubles. One codegen projection +
    one combinable groupBy + bounded top-k."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    n = float(1 << zoom)
    pts = _geo_coords(load(spark, sf_dir, "documents"))
    lat_c = F.greatest(
        F.least(F.col("lat"), F.lit(_MERC_MAX_LAT)), F.lit(-_MERC_MAX_LAT)
    )
    x = F.least(
        F.lit((1 << zoom) - 1),
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(n)),
    ).cast("long")
    mer = F.log(
        F.tan(F.radians(lat_c)) + F.lit(1.0) / F.cos(F.radians(lat_c))
    )
    y = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit((1 << zoom) - 1),
            F.floor(
                (F.lit(1.0) - mer / F.lit(_PI_LIT)) / F.lit(2.0) * F.lit(n)
            ),
        ).cast("long"),
    )
    keyed = pts.select(
        F.concat_ws(
            "/", F.lit(str(zoom)), x.cast("string"), y.cast("string")
        ).alias("tile")
    )
    counts = keyed.groupBy("tile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return ranked_topk(counts, [F.desc("n_docs"), F.asc("tile")], k).select(
        "tile", "n_docs", "rank"
    )


HLL_P = 12  # 4096 buckets; md5_52 = 12 bucket bits + 40 rho bits
_HLL_M = 1 << HLL_P
_HLL_ALPHA_NUM = 0.7213 / (1.0 + 1.079 / _HLL_M) * _HLL_M * _HLL_M * float(1 << 41)


def hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `cardinality` aggregation parity: HyperLogLog (p=12) estimate
    of the corpus vocabulary size next to the exact answer. The register
    fold avoids float accumulation entirely: S = sum_j 2^-M_j is scaled
    by 2^41 into BIGINT adds (every addend a power of two, max total
    2^53 — exact, order-free), the small-range linear-counting branch
    (E <= 2.5m with empty registers) follows the canonical estimator.
    The md5 hash splits 12 bucket bits / 40 rho bits — shared by the
    oracle bit-for-bit. One distinct + one 4096-ary groupBy; vocab-sized
    work, corpus-sized only at the tokenizer scan."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(tokenize_col("text")).alias("term")
    ).distinct()
    h = _md5_52(F.col("term"))
    w = h.bitwiseAND(F.lit((1 << 40) - 1))
    rho = F.when(w == 0, F.lit(41)).otherwise(
        F.lit(40) - F.floor(F.log2(w.cast("double")))
    ).cast("int")
    regs = (
        terms.select(F.shiftright(h, 40).alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    folded = regs.agg(
        F.count(F.lit(1)).cast("long").alias("used"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 41 - m_j)"))
        .cast("long")
        .alias("s_used"),
    )
    exact = terms.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    s_int = F.col("s_used") + (F.lit(_HLL_M) - F.col("used")) * F.lit(1 << 41)
    e_raw = F.lit(_HLL_ALPHA_NUM) / s_int.cast("double")
    v = (F.lit(_HLL_M) - F.col("used")).cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * _HLL_M)) & (v > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v),
    ).otherwise(e_raw)
    return folded.crossJoin(F.broadcast(exact)).select(
        "n_exact",
        "used",
        F.round(est, 4).alias("hll_estimate"),
        F.round(
            F.abs(est - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            6,
        ).alias("rel_err"),
    )


CATEGORIZE_SIG_TOKENS = 2  # leading tokens forming the category signature


def categorize_text_agg(
    spark: SparkSession,
    sf_dir: str,
    sig_tokens: int = CATEGORIZE_SIG_TOKENS,
    k: int = 10,
) -> DataFrame:
    """ES `categorize_text` aggregation (the log-pattern grouper,
    drastically simplified but the same contract): documents bucket by a
    token-shape signature — the first `sig_tokens` analyzer tokens with
    digit runs collapsed to '#' — and the top-k categories report their
    doc counts. Pure codegen signature + one combinable groupBy; real ES
    uses a drain-tree, which is order-dependent — the fixed signature is
    the deterministic stand-in."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    sig = F.concat_ws(
        " ",
        F.transform(
            F.slice(tokenize_col("text"), 1, sig_tokens),
            lambda t: F.regexp_replace(t, "[0-9]+", "#"),
        ),
    )
    counts = docs.select(sig.alias("category")).groupBy("category").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return ranked_topk(
        counts, [F.desc("n_docs"), F.asc("category")], k
    ).select("category", "n_docs", "rank")


FREQ_PAIRS_HOT = 30  # df-ranked vocabulary slice feeding the pair join


def frequent_pairs_agg(
    spark: SparkSession,
    sf_dir: str,
    hot_k: int = FREQ_PAIRS_HOT,
    k: int = 10,
) -> DataFrame:
    """ES `frequent_item_sets` aggregation at size=2 (the co-occurrence
    miner): the top-k pairs of terms appearing together in a document,
    support = co-occurring doc count. The pair space is bounded BEFORE
    the self-join: only the hot_k highest-df terms participate (ties
    term-asc — Apriori's frequent-1-itemset pruning), so the per-doc
    blowup is <= C(hot_k, 2) regardless of corpus size. One df groupBy +
    one broadcast semi-join + one bounded self-join on doc_id."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize_col("text"))).alias("term")
    )
    df_tbl = dt.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    hot = ranked_topk(df_tbl, [F.desc("df"), F.asc("term")], hot_k).select(
        "term"
    )
    ht = dt.join(F.broadcast(hot), "term")
    a = ht.select("doc_id", F.col("term").alias("term_a"))
    b = ht.select("doc_id", F.col("term").alias("term_b"))
    pairs = a.join(b, "doc_id").filter(F.col("term_a") < F.col("term_b"))
    counts = pairs.groupBy("term_a", "term_b").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    return ranked_topk(
        counts, [F.desc("support"), F.asc("term_a"), F.asc("term_b")], k
    ).select("term_a", "term_b", "support", "rank")


TFIDF_KEYWORDS_K = 3


def tfidf_keywords(
    spark: SparkSession, sf_dir: str, k: int = TFIDF_KEYWORDS_K
) -> DataFrame:
    """Per-document keyword extraction: the top-k terms by tf·idf
    (idf = ln(N/df), the classic form) — the 'what is this doc about'
    signal a labeling/routing pipeline attaches to every document. tf
    and df are integers; the one float op (tf·ln(N/df)) runs on
    identical operands in both engines; ranking uses the ROUNDED score
    (term-asc ties), per-doc windows partition BY DOC (parallel,
    WindowGroupLimit-prunable). One tokenize scan + one vocab groupBy +
    one broadcast of the df table-join."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_tbl = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(df_tbl, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf").cast("double")
                * F.log(F.col("n") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("krank", F.row_number().over(w))
        .filter(F.col("krank") <= k)
        .select("doc_id", "term", "tfidf", "krank")
        .orderBy("doc_id", "krank")
    )


BPE_PAIRS_K = 20


def bpe_pair_counts(
    spark: SparkSession, sf_dir: str, k: int = BPE_PAIRS_K
) -> DataFrame:
    """Tokenizer-training step 1 (BPE, Sennrich et al. 2016): the
    corpus-frequency-weighted counts of adjacent CHARACTER pairs inside
    word types — the statistic whose argmax is the first merge. The
    pair enumeration runs over the VOCABULARY (one row per distinct
    word, carrying its corpus frequency), not the corpus: at 100 TB the
    word-type table is MB-scale while the token stream is the full
    dataset — the classic count-then-expand rewrite. Top-k pairs,
    count desc / pair asc."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    pairs_arr = F.when(
        F.length("word") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.col("word").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = words.select("freq", F.explode(pairs_arr).alias("pair"))
    counts = exploded.groupBy("pair").agg(
        F.sum("freq").cast("long").alias("count")
    )
    return ranked_topk(counts, [F.desc("count"), F.asc("pair")], k).select(
        "pair", "count", "rank"
    )


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"
GEOHASH_PRECISION = 3  # 15 bits: 8 lon + 7 lat, lon-first interleave


def geohash_grid_agg(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """ES `geohash_grid` aggregation at precision 3: base32 geohash cell
    counts over the derived coordinates. The hash is pure integer
    arithmetic after one floor each for the lon/lat cell indexes
    (identical float chains both engines), so the interleave and the
    base32 lookup are bit-exact by construction. One codegen projection
    + one combinable groupBy + bounded top-k."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    pts = _geo_coords(load(spark, sf_dir, "documents"))
    lon_idx = F.least(
        F.lit(255),
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(256.0)),
    ).cast("long")
    lat_idx = F.least(
        F.lit(127),
        F.floor((F.col("lat") + F.lit(90.0)) / F.lit(180.0) * F.lit(128.0)),
    ).cast("long")
    # lon-first bit interleave: l7 a6 l6 a5 ... a0 l0 (15 bits)
    v = F.lit(0).cast("long")
    for j in range(8):  # lon bit l_{7-j} lands at position 14 - 2j
        v = v + F.shiftleft(
            F.shiftright(lon_idx, 7 - j).bitwiseAND(F.lit(1)), 14 - 2 * j
        )
    for j in range(7):  # lat bit a_{6-j} lands at position 13 - 2j
        v = v + F.shiftleft(
            F.shiftright(lat_idx, 6 - j).bitwiseAND(F.lit(1)), 13 - 2 * j
        )
    ch = lambda shift: F.expr(  # noqa: E731
        f"substring('{_GEOHASH32}', CAST((v >> {shift}) & 31 AS INT) + 1, 1)"
    )
    keyed = pts.select(v.alias("v")).select(
        F.concat(ch(10), ch(5), ch(0)).alias("geohash")
    )
    counts = keyed.groupBy("geohash").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return ranked_topk(counts, [F.desc("n_docs"), F.asc("geohash")], k).select(
        "geohash", "n_docs", "rank"
    )


IP_RANGES = (
    (None, 0x40000000, "*-64.0.0.0"),
    (0x40000000, 0x80000000, "64.0.0.0-128.0.0.0"),
    (0x80000000, 0xC0000000, "128.0.0.0-192.0.0.0"),
    (0xC0000000, None, "192.0.0.0-*"),
)


def ip_range_agg(
    spark: SparkSession, sf_dir: str, ranges: tuple = IP_RANGES
) -> DataFrame:
    """ES `ip_range` aggregation: [from, to) buckets over a synthetic
    client IPv4 (md5-derived from user_id — the corpus carries no real
    IPs; a real inet column buckets identically on its uint32 face).
    Every bucket is one conditional aggregate over a single scan, keys
    in ES's dotted 'from-to' format."""
    ev = load(spark, sf_dir, "events")
    ip = F.pmod(
        _md5_52(F.concat(F.col("user_id").cast("string"), F.lit(":ip"))),
        F.lit(1 << 32),
    )
    base = ev.select(ip.alias("ip"))
    aggs = []
    for lo, hi, key in ranges:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("ip") >= lo)
        if hi is not None:
            cond = cond & (F.col("ip") < hi)
        aggs.append(
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(key)
        )
    wide = base.agg(*aggs)
    pairs = [
        F.struct(F.lit(key).alias("key"), F.col(f"`{key}`").alias("n_events"))
        for _, _, key in ranges
    ]
    return (
        wide.select(F.explode(F.array(*pairs)).alias("kv"))
        .select("kv.key", "kv.n_events")
        .orderBy("key")
    )


STEM_TOP_K = 20


def _minimal_stem(word):
    """EnglishMinimalStem-style pinned suffix rules (first match wins,
    stems stay >= 3 chars): -ing, -ed, -es, -s (not -ss)."""
    L = F.length(word)
    return (
        F.when(
            (L > 5) & word.endswith("ing"), word.substr(F.lit(1), L - 3)
        )
        .when((L > 4) & word.endswith("ed"), word.substr(F.lit(1), L - 2))
        .when((L > 4) & word.endswith("es"), word.substr(F.lit(1), L - 2))
        .when(
            (L > 3) & word.endswith("s") & ~word.endswith("ss"),
            word.substr(F.lit(1), L - 1),
        )
        .otherwise(word)
    )


def stemmed_terms_agg(
    spark: SparkSession, sf_dir: str, k: int = STEM_TOP_K
) -> DataFrame:
    """Analyzer-chain parity (Lucene EnglishMinimalStemFilter shape): a
    terms aggregation over STEMMED tokens — plural/participle variants
    collapse into one bucket ('merge', 'merges', 'merged', 'merging'
    count together). The stem rules are pinned literal suffix CASEs
    (identical in the SQL twin); one tokenize scan + one combinable
    groupBy + bounded top-k, count desc / stem asc."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize_col("text")).alias("word"))
    stems = toks.select(_minimal_stem(F.col("word")).alias("stem"))
    counts = stems.groupBy("stem").agg(
        F.count(F.lit(1)).cast("long").alias("cf")
    )
    return ranked_topk(counts, [F.desc("cf"), F.asc("stem")], k).select(
        "stem", "cf", "rank"
    )


PACKING_BUDGET = 512  # context-window token budget


def packing_stats(
    spark: SparkSession, sf_dir: str, budget: int = PACKING_BUDGET
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    layout: concatenate each stream's docs in a pinned order, slice into
    fixed `budget`-token contexts): per source, the bin count and how
    many documents straddle a context boundary (the attention-bleed
    metric packing studies report). Offsets come from one per-source
    cumulative window (parallel across sources, pinned doc_id order —
    reproducible at any parallelism); everything is BIGINT arithmetic.
    True first-fit packing is inherently sequential; concat-and-chunk is
    the distributable discipline real pipelines use."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "doc_id",
        F.size(tokenize_col("text")).cast("long").alias("dl"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = base.select(
        "source",
        "dl",
        (F.sum("dl").over(w) - F.col("dl")).alias("off"),
    ).select(
        "source",
        "dl",
        F.floor(F.col("off") / budget).alias("bin_start"),
        # zero-token docs would make bin_end = bin_start - 1; clamp so the
        # straddle test stays consistent with n_bins = ceil(sum/budget)
        F.greatest(
            F.floor(F.col("off") / budget),
            F.floor((F.col("off") + F.col("dl") - 1) / budget),
        ).alias("bin_end"),
    )
    return (
        placed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_tokens"),
            F.ceil(F.sum("dl") / F.lit(float(budget))).cast("long").alias(
                "n_bins"
            ),
            F.sum(
                F.when(F.col("bin_end") > F.col("bin_start"), 1).otherwise(0)
            ).cast("long").alias("n_boundary_docs"),
        )
        .orderBy("source")
    )


def geo_centroid_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `geo_centroid` aggregation: the arithmetic mean point of each
    geotile-zoom-2 cell's members (per-bucket centroids, ES's common
    nesting). Coordinates land on a 1e-4-degree grid, so scaling by 1e4
    makes every accumulator an exact BIGINT sum; the centroid divides
    once per bucket. One combinable groupBy over the derived points."""
    pts = _geo_coords(load(spark, sf_dir, "documents"))
    zoom = 2
    n = float(1 << zoom)
    lat_c = F.greatest(
        F.least(F.col("lat"), F.lit(_MERC_MAX_LAT)), F.lit(-_MERC_MAX_LAT)
    )
    x = F.least(
        F.lit((1 << zoom) - 1),
        F.floor((F.col("lon") + F.lit(180.0)) / F.lit(360.0) * F.lit(n)),
    ).cast("long")
    mer = F.log(
        F.tan(F.radians(lat_c)) + F.lit(1.0) / F.cos(F.radians(lat_c))
    )
    y = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.lit((1 << zoom) - 1),
            F.floor(
                (F.lit(1.0) - mer / F.lit(_PI_LIT)) / F.lit(2.0) * F.lit(n)
            ),
        ).cast("long"),
    )
    # exact integer micro-degree accumulators: lat = k/1e4 - 90 exactly
    lat_e4 = F.round(F.col("lat") * 10000.0).cast("long")
    lon_e4 = F.round(F.col("lon") * 10000.0).cast("long")
    keyed = pts.select(
        F.concat_ws("/", F.lit(str(zoom)), x.cast("string"), y.cast("string"))
        .alias("tile"),
        lat_e4.alias("lat_e4"),
        lon_e4.alias("lon_e4"),
    )
    return (
        keyed.groupBy("tile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("lat_e4").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(10000.0)),
                6,
            ).alias("centroid_lat"),
            F.round(
                F.sum("lon_e4").cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(10000.0)),
                6,
            ).alias("centroid_lon"),
        )
        .orderBy("tile")
    )


MIXTURE_BASE_KEEP = 0.5  # keep probability for the LARGEST source


def mixture_resample(
    spark: SparkSession, sf_dir: str, base_keep: float = MIXTURE_BASE_KEEP
) -> DataFrame:
    """Temperature-mixture REALIZATION: turn the α=0.5 per-source target
    weights (temperature_mixture_weights) into an actual deterministic
    document sample — doc kept iff md5_uniform(doc_id) < its source's
    keep rate, rates scaled so the largest source keeps `base_keep`.
    Per-source keep rate = base_keep · sqrt(max_tokens/tokens): the
    up/down-weighting a data-mixing run applies before training. The
    whole decision is a per-row hash compare against a broadcast 20-row
    rate table; reports per-source kept counts vs targets."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.size(tokenize_col("text")).cast("long").alias("dl")
    )
    per_src = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tokens"),
    )
    mx = per_src.agg(F.max("tokens").alias("max_tokens"))
    rates = per_src.crossJoin(F.broadcast(mx)).select(
        "source",
        "n_docs",
        (
            F.lit(float(base_keep))
            * F.sqrt(
                F.col("max_tokens").cast("double")
                / F.col("tokens").cast("double")
            )
        ).alias("keep_rate_raw"),
    ).select(
        "source",
        "n_docs",
        F.least(F.lit(1.0), F.col("keep_rate_raw")).alias("keep_rate"),
    )
    u = _md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))).cast(
        "double"
    ) / F.lit(float(1 << 52))
    decided = toks.select("source", u.alias("u")).join(
        F.broadcast(rates), "source"
    )
    return (
        decided.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.round(F.max("keep_rate"), 6).alias("keep_rate"),
            F.sum(F.when(F.col("u") < F.col("keep_rate"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


TRIM_BUDGET = 64  # max tokens kept per document


def token_budget_trim(
    spark: SparkSession, sf_dir: str, budget: int = TRIM_BUDGET
) -> DataFrame:
    """Context-limit truncation: cap every document at `budget` analyzer
    tokens (the pre-tokenization trim a context-window pipeline applies
    before packing), reporting old/new token counts and an md5 witness
    of the trimmed text. Shuffle-free codegen map (slice + array_join) —
    embarrassingly parallel at any scale."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    trimmed = F.array_join(F.slice(toks, 1, budget), " ")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.least(F.size(toks).cast("long"), F.lit(budget).cast("long")).alias(
            "n_kept"
        ),
        F.md5(trimmed).alias("trimmed_md5"),
    ).orderBy("doc_id")


CTX_SUGGEST = ("s", "en")  # prefix, lang context
CTX_SUGGEST_K = 5


def contexts_suggest(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = CTX_SUGGEST[0],
    ctx_lang: str = CTX_SUGGEST[1],
    k: int = CTX_SUGGEST_K,
) -> DataFrame:
    """ES completion suggester WITH CONTEXTS: completions for a prefix
    restricted to one context value (here: only suggestions evidenced in
    docs of the given lang), ranked by in-context collection frequency.
    The context dimension makes the dictionary per-(context, term) — one
    filtered tokenize scan + one combinable groupBy; the plain
    suggesters (spell/autocomplete/infix) stay on the global dictionary
    sidecar."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents").filter(F.col("lang") == ctx_lang)
    toks = docs.select(F.explode(tokenize_col("text")).alias("term"))
    cands = (
        toks.filter(F.col("term").startswith(prefix))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    return ranked_topk(cands, [F.desc("cf"), F.asc("term")], k).select(
        "term", "cf", "rank"
    )


RANDOM_SAMPLER_P = 0.25


def random_sampler_agg(
    spark: SparkSession, sf_dir: str, p: float = RANDOM_SAMPLER_P
) -> DataFrame:
    """ES `random_sampler` aggregation: sub-aggregate over a p-probability
    document sample and SCALE the counts back up (count/p) — the
    constant-cost estimator for expensive aggs over huge hit sets. The
    sample is md5-uniform per doc (deterministic at any parallelism,
    like random_score); per-lang rows report the sampled count, the
    scaled estimate, and the exact count as the accuracy witness."""
    docs = load(spark, sf_dir, "documents")
    u = _md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":rs"))).cast(
        "double"
    ) / F.lit(float(1 << 52))
    base = docs.select(
        "lang", F.when(u < F.lit(float(p)), 1).otherwise(0).alias("in_sample")
    )
    return (
        base.groupBy("lang")
        .agg(
            F.sum("in_sample").cast("long").alias("n_sampled"),
            F.round(
                F.sum("in_sample").cast("double") / F.lit(float(p)), 6
            ).alias("est_docs"),
            F.count(F.lit(1)).cast("long").alias("exact_docs"),
        )
        .orderBy("lang")
    )


PIVOT_SOURCES = ("src0", "src1", "src2", "src3")


def pivot_table_agg(
    spark: SparkSession,
    sf_dir: str,
    sources: tuple[str, ...] = PIVOT_SOURCES,
) -> DataFrame:
    """Crosstab / pivot table: lang rows x source columns doc counts,
    through Spark's native `groupBy().pivot()` (one shuffle — the pivot
    column list is PINNED, so no discovery pass and a static schema; an
    unpinned pivot would scan once just to learn the columns). The
    datagen's source names are sf-stable, so the pinned list works at
    every scale."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("source").isin(list(sources))
    )
    wide = (
        docs.groupBy("lang")
        .pivot("source", list(sources))
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "lang",
        *[
            F.coalesce(F.col(f"`{s}`"), F.lit(0)).cast("long").alias(s)
            for s in sources
        ],
    ).orderBy("lang")


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over (lang, source): all four lattice levels —
    (lang, source), lang subtotals, source subtotals, grand total — in
    ONE shuffle with map-side partials (the CUBE twin of events_rollup's
    ROLLUP; CUBE adds the source-only slice ROLLUP lacks). '<all>'
    sentinels keep lattice slots schema-stable cross-engine."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.cube("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            F.coalesce("source", F.lit("<all>")).alias("source"),
            "n_docs",
            "sum_chars",
        )
        .orderBy("lang", "source")
    )


IP_PREFIX_LEN = 8  # ES ip_prefix prefix_length (IPv4 /8 networks)


def ip_prefix_agg(
    spark: SparkSession, sf_dir: str, prefix_len: int = IP_PREFIX_LEN
) -> DataFrame:
    """ES `ip_prefix` aggregation: events bucketed by the /prefix_len
    network of the synthetic client IPv4 (the md5-derived uint32 shared
    with ip_range_agg), keys in ES's network-address "a.0.0.0/8" form.
    Unlike ip_range's pinned range list, the buckets are DISCOVERED from
    the data — one combinable groupBy over the prefix integer; bucket
    count is bounded by 2^prefix_len regardless of corpus size."""
    ev = load(spark, sf_dir, "events")
    ip = F.pmod(
        _md5_52(F.concat(F.col("user_id").cast("string"), F.lit(":ip"))),
        F.lit(1 << 32),
    )
    shift = 32 - prefix_len
    bucket = F.floor(ip / F.lit(float(1 << shift))).cast("long")
    key = F.concat(
        bucket.cast("string"), F.lit(".0.0.0/" + str(prefix_len))
    )
    return (
        ev.select(bucket.alias("bucket"), key.alias("key"))
        .groupBy("bucket", "key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .orderBy("bucket")
    )


GEO_LINE_TRACKS = 8  # synthetic track/entity count (user_id mod N)
GEO_LINE_SIZE = 20  # ES geo_line `size`: keep the FIRST size points


def geo_line_agg(
    spark: SparkSession,
    sf_dir: str,
    n_tracks: int = GEO_LINE_TRACKS,
    size: int = GEO_LINE_SIZE,
) -> DataFrame:
    """ES `geo_line` aggregation: per track (entity = user_id mod
    n_tracks), the first `size` points in (ts, event_id) order joined
    into a trajectory string. Points are md5-derived MICRO-DEGREE
    integers ("lat_e4,lon_e4") — integer rendering is bit-identical
    cross-engine, where float-to-string formatting is not. The per-track
    window ranks then keeps `size` rows (WindowGroupLimit prunes
    map-side); the line assembly aggregates <= size rows per track."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    lat_e4 = (
        F.pmod(
            _md5_52(F.concat(F.col("event_id").cast("string"), F.lit(":elat"))),
            F.lit(1800001),
        )
        - F.lit(900000)
    ).cast("long")
    lon_e4 = (
        F.pmod(
            _md5_52(F.concat(F.col("event_id").cast("string"), F.lit(":elon"))),
            F.lit(3600001),
        )
        - F.lit(1800000)
    ).cast("long")
    pts = ev.select(
        F.pmod(F.col("user_id"), F.lit(n_tracks)).cast("long").alias("track_id"),
        F.col("ts"),
        F.col("event_id"),
        F.concat(lat_e4.cast("string"), F.lit(","), lon_e4.cast("string")).alias(
            "pt"
        ),
    )
    w = Window.partitionBy("track_id").orderBy("ts", "event_id")
    head = pts.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= size
    )
    return (
        head.groupBy("track_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "pt"))
                    ),
                    lambda x: x["pt"],
                ),
                "|",
            ).alias("line"),
        )
        .orderBy("track_id")
    )


def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio per document — the classic lexical-diversity
    quality signal an LLM curation pass scores alongside gopher_rules
    (template/boilerplate text repeats a tiny vocabulary; TTR flags it).
    Shuffle-free per-row expressions: token count, distinct-token count,
    and their ratio from the same tokenize pass."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    n_tokens = F.size(toks).cast("long")
    n_types = F.size(F.array_distinct(toks)).cast("long")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_types.alias("n_types"),
        F.when(
            n_tokens > 0,
            F.round(n_types.cast("double") / n_tokens.cast("double"), 6),
        ).alias("ttr"),
    ).orderBy("doc_id")


VWH_K = 5  # ES variable_width_histogram `buckets`
VWH_ITERS = 2  # fixed Lloyd refinement passes (deterministic stand-in)


def variable_width_histogram_agg(
    spark: SparkSession, sf_dir: str, k: int = VWH_K, iters: int = VWH_ITERS
) -> DataFrame:
    """ES `variable_width_histogram` aggregation: k data-driven buckets
    over documents.n_chars. ES's streaming algorithm is order-dependent;
    the deterministic stand-in is pinned: centroids init at the exact
    order statistics rank_i = ((2i+1)·n)//(2k), then `iters` Lloyd
    assignment passes (nearest centroid, ties to the lower bucket id;
    centroid = exact-integer-sum mean). Each pass is one broadcast
    k-literal CASE over the scan plus one combinable groupBy; only k-row
    centroid tables ever reach the driver. At 100 TB the init ranks
    would come from an approximate quantile sketch (ES's own init is
    approximate too); the exact ranks here keep the DuckDB twin
    bit-identical."""
    docs = load(spark, sf_dir, "documents")
    vals = docs.select("doc_id", F.col("n_chars").cast("long").alias("v"))
    n = vals.count()
    from pyspark.sql import Window

    ranks = [((2 * i + 1) * n) // (2 * k) for i in range(k)]
    w = Window.orderBy("v", "doc_id")
    ranked = vals.withColumn("rn", F.row_number().over(w) - 1)
    init = {
        r["rn"]: float(r["v"])
        for r in ranked.filter(F.col("rn").isin(sorted(set(ranks))))
        .select("rn", "v")
        .collect()
    }
    cents = [(i, init[ranks[i]]) for i in range(k)]

    def assign(df, cs):
        arr = F.array(
            *[
                F.struct(
                    F.abs(F.col("v").cast("double") - F.lit(c)).alias("d"),
                    F.lit(cid).alias("cid"),
                )
                for cid, c in cs
            ]
        )
        return df.withColumn("cid", F.array_min(arr)["cid"].cast("long"))

    for _ in range(iters - 1):
        stats = (
            assign(vals, cents)
            .groupBy("cid")
            .agg(F.sum("v").cast("long").alias("sv"), F.count(F.lit(1)).alias("nc"))
            .collect()
        )
        cents = sorted(
            (int(r["cid"]), float(r["sv"]) / float(r["nc"])) for r in stats
        )
    return (
        assign(vals, cents)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("v").cast("long").alias("v_min"),
            F.max("v").cast("long").alias("v_max"),
            F.round(
                F.sum("v").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean"),
        )
        .withColumnRenamed("cid", "bucket")
        .orderBy("bucket")
    )


def bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under a corpus-trained bigram language model
    (Laplace-smoothed) — the order-2 sibling of unigram_logprob and the
    distributable stand-in for KenLM-style perplexity filtering (CCNet,
    Wenzek et al. 2020, public). Pinned model: context count c(u) is the
    corpus UNIGRAM count of u (the standard approximation, counts doc-final
    tokens too); p(v|u) = (c(u,v)+1)/(c(u)+V) with V = distinct token
    types. Docs with < 2 tokens have no bigrams and are excluded.

    Plan shape mirrors unigram_logprob: one groupBy((u,v)) trains the
    bigram table (stays distributed, vocab²-bounded but sparse), unigram
    context counts join onto it by u, and the per-doc rollup equi-joins
    per-(doc, bigram) counts against the model. Per-doc sums are
    canonically ascending by the "u v" bigram key (house determinism
    rule), so the score is bit-stable across partitionings. No collect,
    no UDF."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_col("text").alias("toks"))
    bi = toks.where(F.size("toks") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("toks")),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("toks"), i - F.lit(1)),
                    F.element_at(F.col("toks"), i),
                ),
            )
        ).alias("bigram"),
    )
    model = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_uv"))
    uni = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_u"))
    )
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    logp = (
        model.withColumn("u", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .join(uni.withColumnRenamed("term", "u"), "u")
        .crossJoin(F.broadcast(vocab))
        .select(
            "bigram",
            F.log(
                (F.col("c_uv") + 1.0) / (F.col("c_u") + F.col("v"))
            ).alias("lp"),
        )
    )
    per_bi = (
        bi.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c_b"))
        .join(logp, "bigram")
        .select(
            "doc_id",
            "c_b",
            F.struct(F.col("bigram"), (F.col("c_b") * F.col("lp")).alias("v"))
            .alias("bv"),
        )
    )
    return (
        per_bi.groupBy("doc_id")
        .agg(
            F.sum("c_b").alias("n_bigrams"),
            F.sort_array(F.collect_list("bv")).alias("bvs"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                -F.aggregate("bvs", F.lit(0.0), lambda a, x: a + x["v"])
                / F.col("n_bigrams"),
                6,
            ).alias("cross_entropy"),
        )
    )


def ols_token_chars_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS fit of token count on n_chars over the corpus —
    the distributed "one pass of sufficient statistics" regression every
    training-data pipeline uses for compute-budget planning (chars->tokens
    conversion factors). All five sufficient statistics (Sx, Sy, Sxy, Sxx,
    Syy) are EXACT integer sums (order-free — the one aggregation shape
    that needs no canonical-order fold), combined into slope / intercept /
    r2 in float64 on the driver side of the expression tree:

        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
        r2    = (n*Sxy - Sx*Sy)^2 / ((n*Sxx - Sx^2) * (n*Syy - Sy^2))

    One scan, map-side-combinable scalar aggregate, no shuffle beyond the
    final single-row reduce. BIGINT is safe: n_chars < 2^13, squared < 2^26,
    times 2^33 docs stays < 2^63."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        F.col("n_chars").cast("long").alias("x"),
        F.size(tokenize_col("text")).cast("long").alias("y"),
    )
    s = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return s.select(
        "n",
        F.round(cov / varx, 6).alias("slope"),
        F.round((sy - (cov / varx) * sx) / n, 6).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


GEO_RING_EDGES = [0.0, 2000.0, 5000.0, 8000.0]  # km, last ring open-ended


def geo_distance_agg(
    spark: SparkSession,
    sf_dir: str,
    center: tuple[float, float] = GEO_CENTER,
    edges: list[float] | None = None,
) -> DataFrame:
    """ES `geo_distance` aggregation: ring buckets around a point with
    per-ring doc counts and mean distance. Same md5-derived coordinates
    and haversine chain as geo_distance_query; bucketing is on the
    3dp-ROUNDED distance (the geo-family rule — identical trig chains,
    compare only rounded values). Empty rings still emit a row with
    n_docs = 0 (ES keeps requested ranges), via a literal ring table
    left join. Mean distance sums the DECIMAL(18,3)-cast rounded
    distances (order-free exact) and divides in float64."""
    if edges is None:
        edges = GEO_RING_EDGES
    clat, clon = center
    pts = _geo_coords(load(spark, sf_dir, "documents"))
    dphi = F.radians(F.col("lat") - F.lit(float(clat))) / F.lit(2.0)
    dlmb = F.radians(F.col("lon") - F.lit(float(clon))) / F.lit(2.0)
    a = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(F.radians(F.lit(float(clat))))
        * F.cos(F.radians(F.col("lat")))
        * F.sin(dlmb)
        * F.sin(dlmb)
    )
    dist = F.round(F.lit(2.0 * 6371.0) * F.asin(F.sqrt(a)), 3)
    d = pts.select(dist.alias("dist_km"))
    rings = []
    for i, lo in enumerate(edges):
        hi = edges[i + 1] if i + 1 < len(edges) else None
        key = f"{lo:g}-{hi:g}" if hi is not None else f"{lo:g}-*"
        rings.append((i, key, lo, hi))
    ring_df = spark.createDataFrame(
        rings, "ring INT, key STRING, lo DOUBLE, hi DOUBLE"
    )
    binned = d.join(
        F.broadcast(ring_df),
        (F.col("dist_km") >= F.col("lo"))
        & (F.col("hi").isNull() | (F.col("dist_km") < F.col("hi"))),
    )
    agg = binned.groupBy("ring", "key").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("dist_km").cast("decimal(18,3)")).alias("dsum"),
    )
    return (
        ring_df.join(agg, ["ring", "key"], "left")
        .select(
            "ring",
            "key",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.round(
                F.col("dsum").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("mean_km"),
        )
        .orderBy("ring")
    )


CCNET_TILES = 3  # head / middle / tail


def ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str, tiles: int = CCNET_TILES
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, public): per
    language, rank docs by unigram-LM cross-entropy (unigram_logprob's
    6dp-ROUNDED score — rank on rounded, doc_id tie-break) and split into
    head/middle/tail terciles with ntile. Output per (lang, bucket):
    doc count, exact DECIMAL-summed mean cross-entropy, min/max.

    Composition, not re-derivation: builds directly on the
    unigram_logprob DataFrame (already gate-green), joined to the lang
    column — one extra bounded-per-lang window and a groupBy."""
    from pyspark.sql import Window

    ce = unigram_logprob(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    j = ce.join(docs, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.asc("cross_entropy"), F.asc("doc_id")
    )
    tiled = j.withColumn("bucket", F.ntile(tiles).over(w))
    return (
        tiled.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum(F.col("cross_entropy").cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_ce"),
            F.min("cross_entropy").alias("min_ce"),
            F.max("cross_entropy").alias("max_ce"),
        )
        .orderBy("lang", "bucket")
    )


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent fit over the corpus token-frequency table:
    OLS of ln(freq) on ln(rank) (rank by freq desc, term asc). The
    classic corpus-health diagnostic for training data (a natural corpus
    fits slope ~ -1; synthetic/boilerplate-heavy corpora flatten).

    Determinism: ln() values are ROUNDED to 6dp and cast DECIMAL(18,6);
    every sufficient statistic is an exact DECIMAL sum (products cast
    DECIMAL(28,12) before summing — the scripted_metric_agg recipe), so
    the fit is independent of aggregation order in both engines. The
    frequency table is vocab-sized; the rank window is a single bounded
    sort."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    w = Window.orderBy(F.desc("cf"), F.asc("term"))
    xy = freq.withColumn("rank", F.row_number().over(w)).select(
        F.round(F.log(F.col("rank").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log(F.col("cf").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,12)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return s.select(
        "n",
        F.round(cov / varx, 6).alias("slope"),
        F.round((sy - (cov / varx) * sx) / n, 6).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


def flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score per document (Flesch 1948 — the standard
    readability gate in data-curation pipelines): 206.835 - 1.015 *
    words/sentences - 84.6 * syllables/words. Pinned heuristics, shared
    with the oracle: words = tokenizer token count; sentences =
    greatest(1, count of [.!?]+ runs) — the synthetic corpus has no
    sentence punctuation, so the guard keeps the leg defined; syllables =
    count of [aeiouy]+ vowel groups in the lowercased text (the classic
    syllable approximation). Pure per-row codegen arithmetic on integer
    counts — no sums, no determinism hazard."""
    docs = load(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    words = F.size(tokenize_col("text")).cast("long")
    sentences = F.greatest(
        F.lit(1).cast("long"), F.regexp_count(low, F.lit(r"[.!?]+")).cast("long")
    )
    syllables = F.regexp_count(low, F.lit(r"[aeiouy]+")).cast("long")
    fre = F.round(
        F.lit(206.835)
        - F.lit(1.015) * words.cast("double") / sentences.cast("double")
        - F.lit(84.6) * syllables.cast("double") / words.cast("double"),
        6,
    )
    return (
        docs.where(words > 0)
        .select(
            "doc_id",
            words.alias("n_words"),
            sentences.alias("n_sentences"),
            syllables.alias("n_syllables"),
            fre.alias("fre"),
        )
        .orderBy("doc_id")
    )


def domain_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the language distribution — the
    diversity-report aggregate a mixture-curation pipeline watches per
    domain/source (a source collapsing to one language is a crawl or
    filter regression). H = -sum p ln p in nats over the per-source lang
    shares; the fold is canonically ascending by lang (house determinism
    rule). One two-key groupBy then a source-level rollup — both
    map-side combinable; lang cardinality bounds the fold."""
    docs = load(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_sl")
    )
    rolled = per.groupBy("source").agg(
        F.sum("n_sl").alias("n_docs"),
        F.sort_array(F.collect_list(F.struct("lang", "n_sl"))).alias("ls"),
    )
    nd = F.col("n_docs").cast("double")
    return rolled.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.size("ls").alias("n_langs"),
        F.round(
            -F.aggregate(
                "ls",
                F.lit(0.0),
                lambda acc, x: acc
                + (x["n_sl"].cast("double") / nd)
                * F.log(x["n_sl"].cast("double") / nd),
            ),
            6,
        ).alias("entropy"),
    ).orderBy("source")


def gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the corpus token-frequency distribution — the
    inequality diagnostic next to zipf_fit (a training corpus whose mass
    concentrates in a few tokens has high Gini; a drift up means
    boilerplate is creeping in). Exact closed form over frequencies
    sorted ascending (ties broken by term so ranks are deterministic):

        G = (2 * sum(i * cf_i) - (n + 1) * sum(cf)) / (n * sum(cf))

    Every sum is an exact BIGINT (rank * cf stays far under 2^63 at any
    real vocab); the single division happens once in float64. One
    vocab-sized groupBy + one bounded sort window."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    w = Window.orderBy(F.asc("cf"), F.asc("term"))
    ranked = freq.withColumn("i", F.row_number().over(w))
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("cf").cast("long").alias("total_tokens"),
        F.sum(F.col("i").cast("long") * F.col("cf")).cast("long").alias("iwsum"),
    )
    n = F.col("n_terms").cast("double")
    tot = F.col("total_tokens").cast("double")
    return s.select(
        "n_terms",
        "total_tokens",
        F.round(
            (F.lit(2.0) * F.col("iwsum").cast("double") - (n + F.lit(1.0)) * tot)
            / (n * tot),
            6,
        ).alias("gini"),
    )


BURSTINESS_MIN_DF = 10
BURSTINESS_TOPK = 10


def term_burstiness(
    spark: SparkSession,
    sf_dir: str,
    min_df: int = BURSTINESS_MIN_DF,
    k: int = BURSTINESS_TOPK,
) -> DataFrame:
    """Term burstiness (Church & Gale 1995, public): the variance-to-mean
    ratio of a term's tf across the documents CONTAINING it — bursty
    terms (VMR >> 1) cluster in few docs; function words sit near
    Poisson. The content/function-word diagnostic for tokenizer and
    stopword decisions in a curation pipeline.

        VMR_t = (df * sum(tf^2) - sum(tf)^2) / (df * sum(tf))

    All-integer sufficient statistics per term (one map-side-combinable
    groupBy over (doc, term) counts), one double division, rank on the
    ROUNDED score with term tie-break."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("s1"),
        F.sum(F.col("tf") * F.col("tf")).cast("long").alias("s2"),
    )
    dfc = F.col("df").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    scored = per.where(F.col("df") >= min_df).select(
        "term",
        "df",
        "s1",
        F.round((dfc * s2 - s1 * s1) / (dfc * s1), 6).alias("vmr"),
    )
    return ranked_topk(scored, [F.desc("vmr"), F.asc("term")], k).select(
        "term", "df", F.col("s1").alias("total_tf"), "vmr", "rank"
    )


RESERVOIR_PER_LANG = 5


def reservoir_sample_per_lang(
    spark: SparkSession, sf_dir: str, n: int = RESERVOIR_PER_LANG
) -> DataFrame:
    """Exactly-n-per-language sample via bottom-k hash priorities — the
    distributed, deterministic equivalent of reservoir sampling (priority
    sampling: keep the n smallest md5(doc_id || ':rsv')). Unlike the
    Bernoulli random_sampler_agg, the output size is exact per stratum,
    and any cluster size produces the same sample (no RNG, no state). A
    rank-capped window per lang — map-side WindowGroupLimit keeps the
    shuffle n-bounded."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    pri = _md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":rsv")))
    w = Window.partitionBy("lang").orderBy(F.asc("pri"), F.asc("doc_id"))
    return (
        docs.select("lang", "doc_id", pri.alias("pri"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n)
        .select("lang", "doc_id", "pri", "rank")
        .orderBy("lang", "rank")
    )


def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = K * n^beta over the corpus ingestion order
    (doc_id ascending): cumulative distinct-vocabulary size against
    cumulative token count, fitted in log-log space — the
    vocabulary-growth diagnostic that says whether a corpus keeps
    contributing new types at scale (beta ~ 0.4-0.6 for natural text;
    a pinned synthetic vocabulary saturates toward 0).

    Distributed shape: per-term FIRST document (one groupBy min), per-doc
    new-type counts (one groupBy), then the two exact-BIGINT cumsums over
    the doc axis via `distributed_running` (doc_id is a total order, so
    the range-partitioned prefix sums are bit-identical to the global
    window — VERDICT r5 item 6). The OLS reuses the zipf_fit determinism
    recipe: 6dp-rounded ln values in DECIMAL(18,6), DECIMAL(28,12)
    product sums."""
    from lucene_mapreduce_spark.operators.parity import distributed_running

    docs = load(spark, sf_dir, "documents")
    dls = docs.select(
        "doc_id", F.size(tokenize_col("text")).cast("long").alias("dl")
    )
    first = (
        docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    joined = dls.join(first, "doc_id", "left").select(
        "doc_id",
        "dl",
        F.coalesce("new_types", F.lit(0)).cast("long").alias("nt"),
    )
    cum = distributed_running(
        joined,
        "doc_id",
        [("dl", "sum", "cum_tokens"), ("nt", "sum", "cum_vocab")],
    ).where((F.col("cum_tokens") > 0) & (F.col("cum_vocab") > 0))
    xy = cum.select(
        F.round(F.log(F.col("cum_tokens").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log(F.col("cum_vocab").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(28,12)")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return s.select(
        "n",
        F.round(cov / varx, 6).alias("beta"),
        F.round((sy - (cov / varx) * sx) / n, 6).alias("intercept"),
        F.round(cov * cov / (varx * vary), 6).alias("r2"),
    )


def tokens_per_byte_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chars-per-token (and its inverse) per source — the compression /
    fertility planning table a tokenizer-budget pipeline keeps per domain.
    All-integer sums, two divisions in float64 per row."""
    docs = load(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(tokenize_col("text")).cast("long")).cast("long").alias(
            "n_tokens"
        ),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("n_bytes"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_bytes",
        F.round(
            F.col("n_tokens").cast("double") / F.col("n_bytes").cast("double"), 6
        ).alias("tokens_per_byte"),
        F.round(
            F.col("n_bytes").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("bytes_per_token"),
    ).orderBy("source")


def trigram_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language identification (Cavnar & Trenkle 1994
    textcat shape, cosine flavor) evaluated as a confusion matrix against
    the corpus labels — the second, independent lang-ID signal next to
    language_id's stopword heuristic (agreement drift between the two is
    the curation alarm). Per-language profiles are corpus trigram counts;
    a doc's score against a language is the cosine between INTEGER count
    vectors — dot products and squared norms are exact BIGINT sums
    (order-free), one sqrt+divide chain per (doc, lang), predicted =
    argmax on the ROUNDED cosine with lang tie-break.

    Plan: trigram explode -> one (doc, g) groupBy -> equi-join against
    the (g, lang) profile table (trigram-vocab-bounded) -> one (doc,
    lang) groupBy. Missing (doc, lang) rows mean zero overlap and can
    never win the argmax (a doc always overlaps its own language)."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.length(low) - F.lit(2)),
        lambda i: F.substr(low, i, F.lit(3)),
    )
    dg = (
        docs.where(F.length(low) >= 3)
        .select("doc_id", "lang", F.explode(grams).alias("g"))
        .groupBy("doc_id", "lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    profile = dg.groupBy("g", F.col("lang").alias("plang")).agg(
        F.sum("c").alias("pc")
    )
    dnorm = dg.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss_d")
    )
    pnorm = profile.groupBy("plang").agg(
        F.sum(F.col("pc") * F.col("pc")).cast("long").alias("ss_p")
    )
    dots = (
        dg.join(profile, "g")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.sum(F.col("c") * F.col("pc")).cast("long").alias("dot"))
    )
    scored = (
        dots.join(dnorm, "doc_id")
        .join(F.broadcast(pnorm), "plang")
        .select(
            "doc_id",
            "lang",
            "plang",
            F.round(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("ss_d").cast("double"))
                    * F.sqrt(F.col("ss_p").cast("double"))
                ),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("cos"), F.asc("plang"))
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", F.col("plang").alias("predicted"))
    )
    return (
        pred.groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang", "predicted")
    )


BLOOM_M = 256  # bits
BLOOM_K = 3  # hash functions
BLOOM_INSERT_LANG = "en"
BLOOM_N_PROBES = 200  # synthetic out-of-vocabulary probe terms


def bloom_filter_membership(
    spark: SparkSession,
    sf_dir: str,
    m: int = BLOOM_M,
    k_h: int = BLOOM_K,
    insert_lang: str = BLOOM_INSERT_LANG,
) -> DataFrame:
    """Bloom-filter membership sketch (Bloom 1970 — the classic
    distributed-join prefilter; completes the sketch family next to
    CMS / KMV / HLL / MinHash / SimHash): insert one language's distinct
    vocabulary (k_h md5 bit positions per token), probe with
    BLOOM_N_PROBES synthetic 'probe:i' terms (guaranteed true negatives
    — this corpus shares one vocabulary across languages, so in-corpus
    negatives don't exist), and report the realized false-positive rate
    against the m/k/n theory. All-integer bit positions (md5 mod m),
    set-semantics via distinct — no RNG, no mutable bitmap: the 'filter'
    is a distinct-position relation, which is exactly how a distributed
    bloom build shuffles."""
    docs = load(spark, sf_dir, "documents")
    inserted = (
        docs.where(F.col("lang") == insert_lang)
        .select(F.explode(tokenize_col("text")).alias("term"))
        .distinct()
    )
    probes = spark.range(BLOOM_N_PROBES).select(
        F.concat(F.lit("probe:"), F.col("id").cast("string")).alias("term")
    )
    hashes = spark.range(k_h).select(F.col("id").cast("int").alias("i"))

    def positions(terms: DataFrame) -> DataFrame:
        return terms.crossJoin(F.broadcast(hashes)).select(
            "term",
            F.pmod(
                _md5_52(
                    F.concat(F.col("i").cast("string"), F.lit(":"), F.col("term"))
                ),
                F.lit(m),
            ).alias("pos"),
        )

    bits = positions(inserted).select("pos").distinct()
    probe_hits = (
        positions(probes)
        .join(bits, "pos", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .where(F.col("n_hit") == k_h)
    )
    counts = (
        inserted.agg(F.count(F.lit(1)).cast("long").alias("n_inserted"))
        .crossJoin(bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set")))
        .crossJoin(probes.agg(F.count(F.lit(1)).cast("long").alias("n_probes")))
        .crossJoin(
            probe_hits.agg(F.count(F.lit(1)).cast("long").alias("n_false_pos"))
        )
    )
    return counts.select(
        F.lit(m).cast("int").alias("m"),
        F.lit(k_h).cast("int").alias("k"),
        "n_inserted",
        "n_bits_set",
        "n_probes",
        "n_false_pos",
        F.round(
            F.col("n_false_pos").cast("double") / F.col("n_probes").cast("double"),
            6,
        ).alias("fp_rate"),
    )


SPLIT_PCTS = (98, 1, 1)  # train / val / test


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split report (98/1/1):
    bucket = md5(doc_id:'split') mod 100 — the reproducible-at-any-
    cluster-size split every training pipeline pins before tokenizing.
    Output per (lang, split): counts and the within-lang fraction."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.pmod(
        _md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
        F.lit(100),
    )
    test_lt = SPLIT_PCTS[2]
    val_lt = SPLIT_PCTS[2] + SPLIT_PCTS[1]
    split = (
        F.when(bucket < test_lt, F.lit("test"))
        .when(bucket < val_lt, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    per = docs.select("lang", split.alias("split")).groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = per.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    return (
        per.join(tot, "lang")
        .select(
            "lang",
            "split",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("n_lang").cast("double"), 6
            ).alias("frac"),
        )
        .orderBy("lang", "split")
    )


def geo_bounds_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES `geo_bounds` metric aggregation per language bucket: the
    tightest bounding box (top-left / bottom-right corners) enclosing
    every document point, plus the doc count. Coordinates are the shared
    md5-derived synthetic geo field (geo_distance_query documents the
    contract). min/max are order-free SELECTIONS — no float accumulation
    surface at all — so the only determinism requirement is the identical
    coordinate-derivation chain, already pinned by the geo family; values
    are 6dp-rounded on output. One map-side-combinable groupBy."""
    docs = load(spark, sf_dir, "documents")
    pts = _geo_coords(docs).join(docs.select("doc_id", "lang"), "doc_id")
    return (
        pts.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.max("lat"), 6).alias("top_left_lat"),
            F.round(F.min("lon"), 6).alias("top_left_lon"),
            F.round(F.min("lat"), 6).alias("bottom_right_lat"),
            F.round(F.max("lon"), 6).alias("bottom_right_lon"),
        )
        .orderBy("lang")
    )


FREQ_TRIPLES_HOT = 16
FREQ_TRIPLES_K = 10


def frequent_triples_agg(
    spark: SparkSession,
    sf_dir: str,
    hot_k: int = FREQ_TRIPLES_HOT,
    k: int = FREQ_TRIPLES_K,
) -> DataFrame:
    """ES `frequent_item_sets` at size=3 (frequent_pairs_agg's level-3
    sibling): the top-k term triples co-occurring in documents, support =
    doc count. Apriori level-1 pruning bounds the space BEFORE any join:
    only the hot_k highest-df terms participate (ties term-asc), so the
    per-doc blowup is <= C(hot_k, 3) at any corpus size; the level-2
    prune (triples from frequent pairs only) is the documented next
    refinement if hot_k ever needs to grow. One df groupBy + one
    broadcast semi-join + two bounded self-joins on doc_id."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize_col("text"))).alias("term")
    )
    df_tbl = dt.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    hot = ranked_topk(df_tbl, [F.desc("df"), F.asc("term")], hot_k).select("term")
    ht = dt.join(F.broadcast(hot), "term")
    a = ht.select("doc_id", F.col("term").alias("term_a"))
    b = ht.select("doc_id", F.col("term").alias("term_b"))
    c = ht.select("doc_id", F.col("term").alias("term_c"))
    triples = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .join(c, "doc_id")
        .filter(F.col("term_b") < F.col("term_c"))
    )
    counts = triples.groupBy("term_a", "term_b", "term_c").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )
    return ranked_topk(
        counts,
        [F.desc("support"), F.asc("term_a"), F.asc("term_b"), F.asc("term_c")],
        k,
    ).select("term_a", "term_b", "term_c", "support", "rank")


def kl_divergence_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence KL(P_source || P_corpus) over unigram
    distributions — the distribution-shift report of a mixture pipeline
    (DSIR's importance weights are the per-doc form; this is the
    per-domain rollup a curation run tracks release-over-release). The
    corpus support contains every source's support, so KL is finite with
    no smoothing:

        KL_s = sum_t p_t ln(p_t / q_t),  p = cnt_st/tot_s, q = cf_t/tot

    Per-(source, term) contributions are one fixed IEEE chain on exact
    integer counts, rounded 12dp and summed as DECIMAL(28,12) — order-free
    exact at any parallelism, NO vocab-sized collect (the fold-based
    entropy pattern would not scale to a real vocabulary). Two
    map-side-combinable groupBys + one broadcast of the vocab-sized
    corpus table."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokenize_col("text")).alias("term"))
    per = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot_s = per.groupBy("source").agg(F.sum("cnt").cast("long").alias("tot_s"))
    corpus = per.groupBy("term").agg(F.sum("cnt").cast("long").alias("cf"))
    tot = corpus.agg(F.sum("cf").cast("long").alias("tot"))
    p = F.col("cnt").cast("double") / F.col("tot_s").cast("double")
    q = F.col("cf").cast("double") / F.col("tot").cast("double")
    contrib = F.round(p * F.log(p / q), 12).cast("decimal(28,12)")
    j = (
        per.join(tot_s, "source")
        .join(corpus, "term")
        .crossJoin(F.broadcast(tot))
        .select("source", contrib.alias("contrib"))
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(F.sum("contrib").cast("double"), 6).alias("kl_nats"),
        )
        .orderBy("source")
    )


WRS_K_PER_LANG = 3


def weighted_reservoir_sample(
    spark: SparkSession, sf_dir: str, k: int = WRS_K_PER_LANG
) -> DataFrame:
    """Weighted sampling without replacement, per language — the
    Efraimidis-Spirakis A-ES scheme every distributed sampler uses
    (Spark's own sampleBy is Bernoulli; A-ES gives EXACTLY k docs with
    inclusion probability proportional to weight): each doc draws
    u = md5-uniform, keyed by -ln(u)/w (w = n_chars, longer docs more
    likely), and the k SMALLEST keys per language win. The md5-uniform
    is the house 52-bit construction (reservoir_sample_per_lang's
    unweighted sibling); -ln(u)/w is one fixed IEEE chain on it; the
    per-group cut is a WindowGroupLimit-pushed rank on the ROUNDED key
    (6dp collisions broken by doc_id — same rule as random_score_query).
    One corpus scan, one bounded per-lang window."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    u = (
        _md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":wrs"))).cast(
            "double"
        )
        + F.lit(1.0)
    ) / F.lit(4503599627370497.0)  # (h+1)/(2^52+1): u in (0,1], ln defined
    key = F.round(-F.log(u) / F.col("n_chars").cast("double"), 6)
    base = docs.select("lang", "doc_id", "n_chars", key.alias("es_key"))
    w = Window.partitionBy("lang").orderBy(F.asc("es_key"), F.asc("doc_id"))
    return (
        base.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("lang", "doc_id", F.col("n_chars").cast("long").alias("n_chars"),
                "es_key", F.col("rnk").alias("rank"))
    )


def char_trigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Shannon entropy of the character-trigram distribution
    — the compression-proxy quality signal (low trigram entropy flags
    boilerplate/repetitive text; it is also the statistic behind the
    char-ngram language-ID family, cf. trigram_langid_confusion). Text is
    lowercased; trigrams slide over the raw string including spaces.
    H = -sum p ln p in nats; per-trigram contributions are one fixed IEEE
    chain on exact integer counts, rounded 12dp and summed DECIMAL(28,12)
    — order-free exact, no vocab-sized collect (the kl_divergence rule).
    Two map-side-combinable groupBys."""
    docs = load(spark, sf_dir, "documents")
    # filter len >= 3 BEFORE sequence(): sequence(1, n) DESCENDS for n < 1
    lowered = docs.select("lang", F.lower("text").alias("t")).filter(
        F.length("t") >= 3
    )
    grams = lowered.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - F.lit(2)),
                lambda i: F.col("t").substr(i, F.lit(3)),
            )
        ).alias("g"),
    )
    per = grams.groupBy("lang", "g").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = per.groupBy("lang").agg(F.sum("c").cast("long").alias("tot"))
    p = F.col("c").cast("double") / F.col("tot").cast("double")
    contrib = F.round(p * F.log(p), 12).cast("decimal(28,12)")
    return (
        per.join(tot, "lang")
        .select("lang", contrib.alias("contrib"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.round(-F.sum("contrib").cast("double"), 6).alias("entropy_nats"),
        )
        .orderBy("lang")
    )


def vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the crawl-dedup
    diagnostic that catches two 'different' domains serving the same
    content farm (high vocab overlap) before document-level dedup spends
    a pass on them. Source cardinality is bounded (a mixture config, not
    data-sized), so the pair table is small by construction; the
    intersection comes from a self-equi-join on term (inverted, never
    all-pairs-of-docs) with integer counts and one rounded division."""
    docs = load(spark, sf_dir, "documents")
    vocab = docs.select(
        "source", F.explode(tokenize_col("text")).alias("term")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n_terms"))
    a = vocab.alias("a")
    b = vocab.alias("b")
    inter = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_terms").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_terms").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


STOPWORD_TOP_K = 10


def stopword_coverage(
    spark: SparkSession, sf_dir: str, k: int = STOPWORD_TOP_K
) -> DataFrame:
    """Cumulative token-mass coverage of the top-k corpus terms — the
    stopword-list sizing curve (how much of the corpus a k-term stoplist
    removes; the Zipf-head complement of zipf_fit). All-integer: cf per
    term, rank by (cf desc, term asc), running BIGINT sum over the k-row
    head; the coverage fraction is one division, 6dp. One vocab-sized
    groupBy + a k-bounded window."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    tot = freq.agg(F.sum("cf").cast("long").alias("tot"))
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    head = ranked_topk(freq, [F.desc("cf"), F.asc("term")], k)
    w = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return (
        head.withColumn("cum_cf", F.sum("cf").over(w).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            "cf",
            "rank",
            "cum_cf",
            F.round(F.col("cum_cf").cast("double") / F.col("tot").cast("double"), 6)
            .alias("coverage"),
        )
        .orderBy("rank")
    )


def lang_source_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared test of independence over the (source, lang)
    contingency table — the mixture-health audit (a source whose language
    mix diverges from the corpus signals a crawl config drift; the
    per-bucket twin is bucket_correlation_agg, this is the global test).
    Observed counts and both margins are exact BIGINTs; each cell's
    (o−e)²/e is one fixed IEEE chain; cells fold in ascending
    (source, lang) order (cell count = |sources|×|langs|, config-bounded,
    so the sorted-struct fold never sees data-sized lists). dof =
    (R−1)(C−1). One two-key groupBy + broadcast margins."""
    docs = load(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows = cells.groupBy("source").agg(F.sum("o").cast("long").alias("rt"))
    cols = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("ct"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    contrib = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    j = (
        cells.join(F.broadcast(rows), "source")
        .join(F.broadcast(cols), "lang")
        .crossJoin(F.broadcast(n))
        .select("source", "lang", contrib.alias("c"))
    )
    folded = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(canonical_sum("c", "source", "lang"), 6).alias("chi2"),
    )
    r = rows.agg(F.count(F.lit(1)).cast("long").alias("nr"))
    c = cols.agg(F.count(F.lit(1)).cast("long").alias("nc"))
    return (
        folded.crossJoin(F.broadcast(r))
        .crossJoin(F.broadcast(c))
        .select(
            "n_cells",
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
            "chi2",
        )
    )


def term_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-frequency histogram of the vocabulary — the
    posting-list size distribution that drives index planning (how many
    terms are Zipf-head vs singleton tail decides skip-list and
    block-max layout; the build's (phash, chunk) salting exists because
    of this tail). Bucket = floor(log2(df)) computed EXACTLY as
    len(bin(df)) - 1 — pure integer, no engine log2 (whose ulps differ
    at exact powers of two). One vocab-sized groupBy + a ~30-row
    rollup."""
    docs = load(spark, sf_dir, "documents")
    dfs = (
        docs.select(
            "doc_id", F.explode(F.array_distinct(tokenize_col("text"))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    bucket = (F.length(F.bin(F.col("df"))) - F.lit(1)).cast("int")
    return (
        dfs.select(bucket.alias("log2_df"), "df")
        .groupBy("log2_df")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("sum_df"),
        )
        .select(
            "log2_df",
            # shiftleft's Column overload throws NOT_ITERABLE (the hll rule)
            F.expr("cast(shiftleft(1, log2_df) as long)").alias("df_lo"),
            "n_terms",
            "sum_df",
        )
        .orderBy("log2_df")
    )


# --- batch 38: span-corruption masking plan + vocabulary drift --------------

SC_MASK_PERMILLE = 150  # 15% token corruption rate (T5 defaults)


def span_corruption_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption masking plan audit (Raffel et al. 2020):
    each token is marked for corruption by the engine-shared md5 coin
    (md5_52('sc:doc:pos') % 1000 < 150), consecutive marked tokens merge
    into one span (= one sentinel token in the T5 objective). The audit
    reports the corpus totals a pretraining pipeline budgets from: mask
    rate, sentinel (span) count, mean span length. All counts are
    integers (order-free); the two ratios divide exact BIGINT totals.
    Shape: one explode + per-doc lag window (partitioned by doc_id — no
    skew) + one global aggregate."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(tokenize_col("text")).alias("pos", "term")
    )
    coin = F.pmod(
        _md5_52(F.concat(F.lit("sc:"), F.col("doc_id"), F.lit(":"), F.col("pos"))),
        F.lit(1000),
    )
    masked = toks.select(
        "doc_id", "pos", (coin < F.lit(SC_MASK_PERMILLE)).alias("m")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = masked.select(
        "doc_id",
        F.col("m"),
        (
            F.col("m")
            & ~F.coalesce(F.lag("m").over(w), F.lit(False))
        ).alias("span_start"),
    )
    return runs.agg(
        F.count(F.lit(1)).cast("long").alias("total_tokens"),
        F.sum(F.col("m").cast("long")).cast("long").alias("masked_tokens"),
        F.sum(F.col("span_start").cast("long")).cast("long").alias("n_spans"),
        F.round(
            F.sum(F.col("m").cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mask_rate"),
        F.round(
            F.sum(F.col("m").cast("long")).cast("double")
            / F.sum(F.col("span_start").cast("long")).cast("double"),
            6,
        ).alias("avg_span_len"),
    )


DRIFT_MIN_DF = 20
DRIFT_TOP_K = 20


def term_drift_halves(spark: SparkSession, sf_dir: str, k: int = DRIFT_TOP_K) -> DataFrame:
    """Vocabulary drift between two deterministic corpus halves (doc_id
    parity stands in for a train/future time split): per-term smoothed
    log-odds shift |ln((df_a+1)/(n_a+1)) - ln((df_b+1)/(n_b+1))|, top
    movers. The drift monitor a training pipeline runs between snapshots
    to catch distribution shift before it reaches the model. df counts
    are exact integers; the two ln() legs evaluate the same doubles in
    both engines. One token explode + groupBy, a broadcast 2-row total,
    TakeOrderedAndProject top-k."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 2 == 0).alias("is_a"), "text"
    )
    n = docs.agg(
        F.sum(F.col("is_a").cast("long")).alias("n_a"),
        F.sum((~F.col("is_a")).cast("long")).alias("n_b"),
    )
    df = (
        docs.select("doc_id", "is_a", F.explode(tokenize_col("text")).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(
            F.sum(F.col("is_a").cast("long")).alias("df_a"),
            F.sum((~F.col("is_a")).cast("long")).alias("df_b"),
        )
        .filter((F.col("df_a") + F.col("df_b")) >= DRIFT_MIN_DF)
    )
    scored = df.crossJoin(F.broadcast(n)).select(
        "term",
        "df_a",
        "df_b",
        F.round(
            F.abs(
                F.log(
                    (F.col("df_a") + F.lit(1)).cast("double")
                    / (F.col("n_a") + F.lit(1)).cast("double")
                )
                - F.log(
                    (F.col("df_b") + F.lit(1)).cast("double")
                    / (F.col("n_b") + F.lit(1)).cast("double")
                )
            ),
            6,
        ).alias("drift"),
    )
    return ranked_topk(scored, [F.desc("drift"), F.asc("term")], k).select(
        "term", "df_a", "df_b", "drift", "rank"
    )


# --- batch 39: polygon containment + OOV rate -------------------------------

GEO_POLYGON = (  # (lon, lat) vertices, non-convex pentagon
    (-80.0, 40.0),
    (-60.0, 10.0),
    (-20.0, 0.0),
    (0.0, 30.0),
    (-40.0, 60.0),
)


def polygon_contains_expr(px: str, py: str) -> str:
    """Ray-casting point-in-polygon predicate as ONE shared expression
    string (`px`/`py` render the point's lon/lat in the engine's syntax):
    odd number of polygon edges crossed by the horizontal ray. Each edge
    term is the identical float chain in both engines; vertices are
    pinned literals. Boundary-exact points can't occur: the synthetic
    coordinates live on a 1e-4 grid, the edges don't."""
    n = len(GEO_POLYGON)
    terms = []
    for i in range(n):
        xi, yi = GEO_POLYGON[i]
        xj, yj = GEO_POLYGON[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({yi!r} > {py}) <> ({yj!r} > {py})) AND"
            f" ({px} < ({xj!r} - {xi!r}) * ({py} - {yi!r})"
            f" / ({yj!r} - {yi!r}) + {xi!r}) THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


def geo_polygon_query(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Lucene LatLonPoint.newPolygonQuery parity: docs whose derived point
    falls inside the pinned pentagon, first k by doc id. The ray-casting
    predicate is one codegen expression per row (no UDF); on an index
    with materialized lat/lon the polygon's bounding box pushes into the
    scan first and the exact test runs on survivors — the standard
    two-phase geo filter."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    pts = _geo_coords(load(spark, sf_dir, "documents"))
    inside = pts.filter(F.expr(polygon_contains_expr("lon", "lat"))).select(
        "doc_id", F.round("lat", 4).alias("lat"), F.round("lon", 4).alias("lon")
    )
    return ranked_topk(inside, [F.asc("doc_id")], k).select(
        "doc_id", "lat", "lon", "rank"
    )


OOV_VOCAB_SIZE = 512


def oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary token rate per source against a pinned-size
    vocabulary (the OOV_VOCAB_SIZE highest-df terms, df ties broken by
    term — the byte-fallback-rate planning number a tokenizer owner reads
    per corpus slice). Everything is integer counts; the vocabulary is
    derived IN-ENGINE (df ranking), broadcast back as an anti-join —
    never collected to the driver. Two explodes over the corpus: one for
    df, one for the per-source token count."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.explode(tokenize_col("text")).alias("term")
    )
    df = (
        toks.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    vocab = ranked_topk(df, [F.desc("df"), F.asc("term")], OOV_VOCAB_SIZE).select(
        "term"
    )
    oov = toks.join(F.broadcast(vocab), "term", "left_anti")
    tot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("total_tokens")
    )
    oo = oov.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("oov_tokens")
    )
    return (
        tot.join(oo, "source", "left")
        .select(
            "source",
            "total_tokens",
            F.coalesce("oov_tokens", F.lit(0)).cast("long").alias("oov_tokens"),
            F.round(
                F.coalesce("oov_tokens", F.lit(0)).cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# --- batch 41: vocabulary coverage + term-dictionary front-coding -----------

VOCAB_COVERAGE_PCTS = (0.5, 0.9, 0.99)


def vocab_coverage_curve(
    spark: SparkSession, sf_dir: str, pcts: tuple[float, ...] = VOCAB_COVERAGE_PCTS
) -> DataFrame:
    """Vocabulary coverage curve: the smallest k such that the top-k
    terms (by token count, ties by term) cover >= p of all token mass,
    for each target p — the table a tokenizer-vocabulary owner reads to
    size the vocab. The coverage test is exact integer arithmetic
    (cum * 100 >= total * round(p*100) — no float thresholds); the
    cumulative window runs over the term-count table (vocab-sized, NOT
    corpus-sized), single-partition by design like the pipeline aggs."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    order = Window.orderBy(F.desc("n"), F.asc("term"))
    ranked = counts.select(
        "n",
        F.sum("n").over(order.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(order).alias("r"),
    ).crossJoin(
        F.broadcast(counts.agg(F.sum("n").cast("long").alias("total")))
    )
    pieces = []
    for p in pcts:
        num = int(round(p * 100))
        pieces.append(
            ranked.filter(F.col("cum") * 100 >= F.col("total") * num)
            .orderBy("r")
            .limit(1)
            .select(
                F.lit(float(p)).alias("pct"),
                F.col("r").cast("long").alias("k_terms"),
                F.col("cum").alias("tokens_covered"),
                "total",
            )
        )
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece)
    return out.orderBy("pct")


def term_dict_frontcoding_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Front-coding (shared-prefix) compression estimate for the sorted
    term dictionary — the byte-savings number behind Lucene\'s
    prefix-compressed terms index blocks. For each term in sorted order
    the saved bytes equal the longest common prefix with its
    predecessor; LCP is counted as the number of prefix lengths i whose
    substr(1, i) matches (prefix matches are downward-closed, so the
    count IS the LCP — one codegen expression, no UDF). The lag window
    runs over the vocab-sized dictionary."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    terms = docs.select(F.explode(tokenize_col("text")).alias("term")).distinct()
    prev = F.lag("term").over(Window.orderBy("term"))
    pairs = terms.select("term", prev.alias("prev"))
    m = F.least(F.length("term"), F.length("prev"))
    lcp = F.when(F.col("prev").isNull(), F.lit(0)).otherwise(
        F.size(
            F.filter(
                F.sequence(F.lit(1), m),
                lambda i: F.col("term").substr(F.lit(1), i)
                == F.col("prev").substr(F.lit(1), i),
            )
        )
    )
    per = pairs.select(
        F.length("term").cast("long").alias("term_len"), lcp.cast("long").alias("lcp")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("term_len").cast("long").alias("raw_bytes"),
        F.sum("lcp").cast("long").alias("saved_bytes"),
        F.round(
            F.sum("lcp").cast("double") / F.sum("term_len").cast("double"), 6
        ).alias("savings_ratio"),
    )


SHINGLE_PROFILE_WS = (2, 3, 4, 5)


def shingle_uniqueness_profile(
    spark: SparkSession, sf_dir: str, ws: tuple[int, ...] = SHINGLE_PROFILE_WS
) -> DataFrame:
    """w-shingle uniqueness curve: distinct vs total shingles per window
    width — the profile that picks the shingle width for MinHash/Jaccard
    dedup (too narrow = everything collides, too wide = nothing does).
    One explode per width over the tokenized corpus, integer counts, the
    ratio divided identically in both engines. Short docs guard the
    sequence with a size filter (Spark sequence(1, n) DESCENDS when
    n < 1 — the bigram_logprob trap)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(tokenize_col("text").alias("toks"))
    pieces = []
    for w in ws:
        sh = (
            toks.filter(F.size("toks") >= w)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - F.lit(w) + 1),
                        lambda i: F.array_join(
                            F.slice("toks", i, F.lit(w)), " "
                        ),
                    )
                ).alias("sh")
            )
        )
        pieces.append(
            sh.agg(
                F.lit(w).cast("int").alias("w"),
                F.count(F.lit(1)).cast("long").alias("total_shingles"),
                F.countDistinct("sh").cast("long").alias("distinct_shingles"),
                F.round(
                    F.countDistinct("sh").cast("double")
                    / F.count(F.lit(1)).cast("double"),
                    6,
                ).alias("uniqueness"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.orderBy("w")


# --- batch 48: Gopher repetition signals + percentile length trim -----------

REP_MIN_TOKENS = 3
REP_TOP2_FLAG_PCT = 20  # flag when the top bigram covers > 20% of bigrams
REP_TOP3_FLAG_PCT = 18  # flag when the top trigram covers > 18% of trigrams
TRIM_LO_Q = 0.05
TRIM_HI_Q = 0.95


def _top_ngram_frac(docs: DataFrame, n: int):
    """Per-doc fraction of n-gram slots covered by the single most
    frequent n-gram (the Gopher repetition signal). Returns (doc_id,
    n_grams, top_cnt) — the fraction itself stays an exact integer pair
    so threshold flags never hit a float boundary."""
    toks = tokenize_col("text")
    grams = F.expr(
        "transform(sequence(1, size(toks) - {m}), "
        "i -> concat_ws(' ', slice(toks, i, {n})))".format(m=n - 1, n=n)
    )
    exploded = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size(F.col("toks")) >= REP_MIN_TOKENS)
        .select("doc_id", F.size(F.col("toks")).alias("n_toks"),
                F.explode(grams).alias("gram"))
    )
    return (
        exploded.groupBy("doc_id", "n_toks", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            (F.first("n_toks") - F.lit(n - 1)).cast("long").alias(f"n_{n}grams"),
            F.max("cnt").cast("long").alias(f"top{n}_cnt"),
        )
    )


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals rolled up per source: the mean
    fraction of bigram/trigram slots covered by each document's most
    frequent bigram/trigram, plus counts of documents whose coverage
    crosses the MassiveText-style thresholds (top-2gram > 20%, top-3gram
    > 18% — integer cross-multiplied, no float boundary). Mean fractions
    are 6dp-rounded DECIMAL sums divided as doubles (the DECIMAL-mean
    rule). Two bounded groupBys per n-gram order; the per-doc joins are
    on doc_id."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "source")
    bi = _top_ngram_frac(docs, 2)
    tri = _top_ngram_frac(docs, 3)
    j = (
        docs.select("doc_id", "source")
        .join(bi, "doc_id")
        .join(tri, "doc_id")
    )
    frac2 = F.col("top2_cnt").cast("double") / F.col("n_2grams").cast("double")
    frac3 = F.col("top3_cnt").cast("double") / F.col("n_3grams").cast("double")
    flag2 = (
        F.col("top2_cnt") * F.lit(100) > F.col("n_2grams") * F.lit(REP_TOP2_FLAG_PCT)
    ).cast("long")
    flag3 = (
        F.col("top3_cnt") * F.lit(100) > F.col("n_3grams") * F.lit(REP_TOP3_FLAG_PCT)
    ).cast("long")
    n = F.count(F.lit(1))
    return (
        j.groupBy("source")
        .agg(
            n.cast("long").alias("n_docs"),
            F.round(
                F.sum(F.round(frac2, 6).cast("decimal(28,6)")).cast("double")
                / n.cast("double"),
                6,
            ).alias("mean_top2_frac"),
            F.round(
                F.sum(F.round(frac3, 6).cast("decimal(28,6)")).cast("double")
                / n.cast("double"),
                6,
            ).alias("mean_top3_frac"),
            F.sum(flag2).cast("long").alias("n_flag_top2"),
            F.sum(flag3).cast("long").alias("n_flag_top3"),
        )
        .orderBy("source")
    )


def length_trim_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile length trim — the outlier-removal curation step: per
    language, documents outside the [p5, p95] band of n_chars are
    trimmed. Percentile is exact type-7 (Spark percentile == DuckDB
    quantile_cont, the equidepth rule); band membership compares exact
    integers against the interpolated doubles both engines derive
    identically. One scan + a per-lang aggregate joined back broadcast."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    bands = docs.groupBy("lang").agg(
        F.percentile(F.col("n_chars").cast("double"), F.lit(TRIM_LO_Q)).alias("lo"),
        F.percentile(F.col("n_chars").cast("double"), F.lit(TRIM_HI_Q)).alias("hi"),
    )
    j = docs.join(F.broadcast(bands), "lang")
    kept = (
        (F.col("n_chars").cast("double") >= F.col("lo"))
        & (F.col("n_chars").cast("double") <= F.col("hi"))
    ).cast("long")
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.first("lo"), 6).alias("p5_chars"),
            F.round(F.first("hi"), 6).alias("p95_chars"),
            F.sum(kept).cast("long").alias("n_kept"),
            (F.count(F.lit(1)) - F.sum(kept)).cast("long").alias("n_trimmed"),
        )
        .orderBy("lang")
    )


# --- batch 49: quality operating curve + tokenizer fertility ----------------

QUALITY_THRESHOLDS = (0.65, 0.75, 0.85, 0.88)


def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating curve of the quality filter: for each pinned threshold,
    per-source kept counts and keep rate — what a curation run consults
    before committing to a cutoff (the quality twin of
    semdedup_threshold_sweep). Compares the 6dp-ROUNDED score both
    engines already agree on against literal thresholds, so no float
    boundary is in play. One scan, a tiny threshold-literal cross join,
    one groupBy."""
    from lucene_mapreduce_spark.operators.textstats import quality_score

    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    thr = spark.createDataFrame(
        [(float(t),) for t in QUALITY_THRESHOLDS], "threshold double"
    )
    j = q.join(src, "doc_id").crossJoin(F.broadcast(thr))
    return (
        j.groupBy("threshold", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("quality") >= F.col("threshold")).cast("int"))
            .cast("long")
            .alias("n_kept"),
        )
        .select(
            "threshold",
            "source",
            "n_docs",
            "n_kept",
            F.round(
                F.col("n_kept").cast("double") / F.col("n_docs").cast("double"), 6
            ).alias("keep_rate"),
        )
        .orderBy("threshold", "source")
    )


def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: BPE-ish tokens per
    whitespace word (the classic fertility ratio) and characters per
    BPE-ish token — the numbers a tokenizer report quotes when deciding
    whether a language is over-segmented. All sufficient statistics are
    exact integer sums (token counts, char counts); the ratios divide
    the exact totals as doubles, rounded 6dp. One scan, one tiny
    groupBy."""
    docs = load(spark, sf_dir, "documents")
    ws = F.size(tokenize_col("text")).cast("long")
    bpe = F.regexp_count(
        F.col("text"), F.lit("[a-zA-Z0-9]+|[^a-zA-Z0-9 ]")
    ).cast("long")
    return (
        docs.select("lang", ws.alias("ws"), bpe.alias("bpe"), F.col("n_chars"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ws").cast("long").alias("total_ws_words"),
            F.sum("bpe").cast("long").alias("total_bpe_tokens"),
            F.round(
                F.sum("bpe").cast("double") / F.sum("ws").cast("double"), 6
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("bpe").cast("double"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# --- batch 51: shingle novelty + numeric-token profile -----------------------

NOVELTY_SHINGLE_K = 5


def ngram_novelty_by_source(
    spark: SparkSession, sf_dir: str, k: int = NOVELTY_SHINGLE_K
) -> DataFrame:
    """Corpus-order novelty per source: a doc's novelty is the fraction
    of its DISTINCT k-token shingles whose first corpus occurrence (min
    doc_id) is this doc — the incremental-information signal a dedup-
    aware data mix consults (a source whose novelty decays is re-crawling
    itself). Per source: mean per-doc novelty (each ratio 6dp-rounded
    then DECIMAL-summed — order-free), doc and shingle totals. Plan: one
    shingle explode, one groupBy(shingle) min, one equi-join back —
    bucketed by shingle hash at any scale, never all-pairs."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", "source", tokenize_col("text").alias("toks"))
        .filter(F.size("toks") >= k)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {k - 1}),"
                    f" i -> concat_ws(' ', slice(toks, i, {k})))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(first, "shingle")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
        .select(
            "source",
            "n_shingles",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("novelty"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_shingles").cast("long").alias("total_shingles"),
            F.round(
                F.sum("novelty").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_novelty"),
        )
        .orderBy("source")
    )


def numeric_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-token density per source: share of tokens that are pure
    digit runs and the fraction of docs containing any digit — the
    boilerplate/table-dump signal quality filters threshold on (price
    lists and log dumps are digit-heavy). Exact integer sufficient
    statistics; one scan, one tiny groupBy."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    n_num = F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$")))
    return (
        docs.select(
            "source",
            F.size(toks).cast("long").alias("n_toks"),
            n_num.cast("long").alias("n_num"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.sum("n_num").cast("long").alias("numeric_tokens"),
            F.round(
                F.sum("n_num").cast("double") / F.sum("n_toks").cast("double"), 6
            ).alias("numeric_rate"),
            F.round(
                F.sum(F.when(F.col("n_num") > 0, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("frac_docs_with_digit"),
        )
        .orderBy("source")
    )


# -------------------------------------------- batch 53: Dunning LLR bigrams
LLR_MIN_PAIR = 5  # bigram support floor
LLR_TOPK = 20


def bigram_llr_collocations(
    spark: SparkSession, sf_dir: str, min_pair: int = LLR_MIN_PAIR, k: int = LLR_TOPK
) -> DataFrame:
    """Dunning log-likelihood-ratio collocations (Dunning 1993 — the
    heuristic ngram_counts' PMI and the sig_terms family were missing;
    ES significant_terms offers the same G² as a scored_heuristic):
    adjacent-bigram G² against the independence model from the 2x2
    contingency of (first=a) x (second=b) over all corpus bigrams.
    All margins are exact integer counts (two map-side-combinable
    groupBys + one broadcast scalar); the per-bigram G² is one fixed
    IEEE chain — each cell's count is cast to DOUBLE before any product
    so the expression never overflows at 100-TB bigram counts, and both
    engines evaluate the identical parenthesization. Rank on the
    6dp-ROUNDED llr (term_a, term_b ties)."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    t = docs.select(tokenize_col("text").alias("t")).filter(F.size("t") >= 2)
    pairs = t.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - F.lit(1)),
                lambda i: F.struct(
                    F.element_at("t", i).alias("a"),
                    F.element_at("t", i + F.lit(1)).alias("b"),
                ),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("term_a"), F.col("p.b").alias("term_b"))
    ab = pairs.groupBy("term_a", "term_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_ab")
    )
    ca = ab.groupBy("term_a").agg(F.sum("n_ab").cast("long").alias("ca"))
    cb = ab.groupBy("term_b").agg(F.sum("n_ab").cast("long").alias("cb"))
    tot = ab.agg(F.sum("n_ab").cast("long").alias("n_tot"))

    def cell(kc, row, col):
        kd = kc.cast("double")
        return F.when(
            kc > 0,
            kd
            * F.log(
                (kd * F.col("n_tot").cast("double"))
                / (row.cast("double") * col.cast("double"))
            ),
        ).otherwise(F.lit(0.0))

    n, a, b2 = F.col("n_tot"), F.col("ca"), F.col("cb")
    k11, k12 = F.col("n_ab"), a - F.col("n_ab")
    k21, k22 = b2 - F.col("n_ab"), n - a - b2 + F.col("n_ab")
    llr = F.round(
        F.lit(2.0)
        * (
            (
                (cell(k11, a, b2) + cell(k12, a, n - b2))
                + cell(k21, n - a, b2)
            )
            + cell(k22, n - a, n - b2)
        ),
        6,
    )
    scored = (
        ab.filter(F.col("n_ab") >= min_pair)
        .join(ca, "term_a")
        .join(cb, "term_b")
        .crossJoin(F.broadcast(tot))
        .select("term_a", "term_b", "n_ab", llr.alias("llr"))
    )
    return ranked_topk(
        scored, [F.desc("llr"), F.asc("term_a"), F.asc("term_b")], k
    ).select("term_a", "term_b", F.col("n_ab").cast("long").alias("n_ab"), "llr", "rank")


# ------------------------------------------------ batch 54: ARI readability
def ari_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated Readability Index rollup per source — the second
    readability proxy next to flesch_reading_ease (ARI needs no syllable
    model, only chars/words/sentences, so it is the cheap screen a
    curation pass runs corpus-wide): ARI = 4.71·(chars/words) +
    0.5·(words/sentences) − 21.43 with chars = non-space characters,
    words = token count, sentences = greatest(1, terminal-punct count)
    (the flesch guard — the synthetic corpus carries no punctuation).
    The per-doc value is one fixed IEEE chain; the per-source mean sums
    12dp-rounded DECIMAL(28,12) contributions then divides the
    double-cast sum (the DECIMAL-mean rule)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    chars = F.length(F.regexp_replace(F.col("text"), " ", "")).cast("long")
    words = F.size(toks).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        (
            F.length(F.col("text"))
            - F.length(F.regexp_replace(F.col("text"), "[.!?]", ""))
        ).cast("long"),
    )
    ari = (
        F.lit(4.71) * (chars.cast("double") / words.cast("double"))
        + F.lit(0.5) * (words.cast("double") / sents.cast("double"))
        - F.lit(21.43)
    )
    per = docs.filter(F.size(toks) > 0).select(
        "source", F.round(ari, 12).cast("decimal(28,12)").alias("ari")
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("ari").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_ari"),
        )
        .orderBy("source")
    )


# --------------------------------- batch 55: training-data planning family
CURRICULUM_BUCKETS = 10


def curriculum_buckets(
    spark: SparkSession, sf_dir: str, n_buckets: int = CURRICULUM_BUCKETS
) -> DataFrame:
    """Length-curriculum bucketing (curriculum learning's shortest-first
    schedule — Bengio et al. 2009; the scheduling twin of
    ccnet_perplexity_buckets, which buckets by LM difficulty): docs are
    ntile'd into n_buckets by (doc length, doc_id) — the tie rule that
    makes ntile identical in both engines — and each bucket reports its
    size, length range, token budget, and mean type-token ratio (the
    lexical-diversity signal trainers watch as the curriculum advances).
    TTR per doc is one integer divide rounded 12dp; means sum
    DECIMAL(28,12) — order-free. (dl, doc_id) is a TOTAL order (doc_id
    unique), so the buckets come from `distributed_ntile` on a struct key
    — exact ntile without a single-partition window (VERDICT r5 item 6)."""
    from lucene_mapreduce_spark.operators.parity import distributed_ntile

    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    per = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        F.size(F.array_distinct(toks)).cast("long").alias("types"),
    ).filter(F.col("dl") > 0)
    ttr = F.round(
        F.col("types").cast("double") / F.col("dl").cast("double"), 12
    ).cast("decimal(28,12)")
    keyed = per.withColumn(
        "_ord", F.struct(F.col("dl").alias("l"), F.col("doc_id").alias("d"))
    )
    b = distributed_ntile(keyed, "_ord", n_buckets, "bucket").select(
        "bucket", "dl", ttr.alias("ttr")
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("dl").alias("min_dl"),
            F.max("dl").alias("max_dl"),
            F.sum("dl").cast("long").alias("total_tokens"),
            F.round(
                F.sum("ttr").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_ttr"),
        )
        .orderBy("bucket")
    )


EXPOSURE_BUDGET_MULT = 2  # token budget = mult x corpus tokens


def repeat_exposure_plan(
    spark: SparkSession, sf_dir: str, budget_mult: int = EXPOSURE_BUDGET_MULT
) -> DataFrame:
    """Per-source repeat/epoch plan under a temperature-balanced mixture
    (the how-many-epochs-of-each-source schedule a data-constrained run
    derives — Muennighoff et al. 2023 territory): target share per
    source is the sqrt-temperature weight (temperature_mixture_weights'
    exact DECIMAL recipe), the token budget is budget_mult x corpus
    tokens, planned tokens = floor(weight x budget) (floor, not round —
    never over-commits the budget), and epochs = planned / available.
    Every product is one IEEE op on identical operands; floor is exact."""
    docs = load(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", F.size(tokenize_col("text")).cast("long").alias("dl"))
        .groupBy("source")
        .agg(F.sum("dl").cast("long").alias("n_tokens"))
        .select(
            "source",
            "n_tokens",
            F.round(F.sqrt(F.col("n_tokens").cast("double")), 6)
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    z = per_src.agg(
        F.sum("w").alias("z"), F.sum("n_tokens").cast("long").alias("tot")
    )
    weight = F.round(F.col("w").cast("double") / F.col("z").cast("double"), 6)
    budget = (F.col("tot") * F.lit(budget_mult)).cast("double")
    planned = F.floor(weight * budget).cast("long")
    return (
        per_src.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_tokens",
            weight.alias("weight"),
            planned.alias("planned_tokens"),
            F.round(
                planned.cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("epochs"),
        )
        .orderBy("source")
    )


def split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification audit of the train/val/test hash split (the check
    that train_val_test_split's md5 buckets didn't skew any language —
    run before every release): per (split, lang), the doc count, the
    language's share WITHIN the split, its share in the full corpus, and
    the absolute deviation between the two. All shares are single
    BIGINT/BIGINT -> DOUBLE divides; abs-dev subtracts the two UNROUNDED
    doubles then rounds once (the bucket_selector rule: never compare or
    subtract already-rounded values)."""
    docs = load(spark, sf_dir, "documents")
    bucket = F.pmod(
        _md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
        F.lit(100),
    )
    test_lt = SPLIT_PCTS[2]
    val_lt = SPLIT_PCTS[2] + SPLIT_PCTS[1]
    split = (
        F.when(bucket < test_lt, F.lit("test"))
        .when(bucket < val_lt, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    base = docs.select("lang", split.alias("split"))
    per = base.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    split_tot = per.groupBy("split").agg(
        F.sum("n_docs").cast("long").alias("n_split")
    )
    lang_tot = per.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("n_lang")
    )
    grand = per.agg(F.sum("n_docs").cast("long").alias("n_all"))
    sf = F.col("n_docs").cast("double") / F.col("n_split").cast("double")
    gf = F.col("n_lang").cast("double") / F.col("n_all").cast("double")
    return (
        per.join(split_tot, "split")
        .join(lang_tot, "lang")
        .crossJoin(F.broadcast(grand))
        .select(
            "split",
            "lang",
            "n_docs",
            F.round(sf, 6).alias("split_frac"),
            F.round(gf, 6).alias("global_frac"),
            F.round(F.abs(sf - gf), 6).alias("abs_dev"),
        )
        .orderBy("split", "lang")
    )


_LN2 = 0.6931471805599453  # shared literal — never each engine's ln(2)


def jsd_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's unigram
    distribution and the corpus distribution — the SYMMETRIC, bounded
    ([0, ln2]) sibling of kl_divergence_by_source (JSD is the standard
    domain-shift distance because it never blows up on support
    mismatch). Out-of-support mass needs no vocab-sized scan: for terms
    the source lacks, p=0 so m=q/2 and the q-leg contribution collapses
    to q·ln2 — summed in closed form as ln2·(1 − Q_in), with Q_in the
    corpus mass on the source's support. All three sums accumulate
    12dp-rounded DECIMAL(28,12) contributions (the KL rule); ln2 is the
    shared _LN2 literal. Two groupBys + one broadcast corpus table."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokenize_col("text")).alias("term"))
    per = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot_s = per.groupBy("source").agg(F.sum("cnt").cast("long").alias("tot_s"))
    corpus = per.groupBy("term").agg(F.sum("cnt").cast("long").alias("cf"))
    tot = corpus.agg(F.sum("cf").cast("long").alias("tot"))
    p = F.col("cnt").cast("double") / F.col("tot_s").cast("double")
    q = F.col("cf").cast("double") / F.col("tot").cast("double")
    dec = lambda c: F.round(c, 12).cast("decimal(28,12)")
    j = (
        per.join(tot_s, "source")
        .join(corpus, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            dec(p * F.log((F.lit(2.0) * p) / (p + q))).alias("c_p"),
            dec(q * F.log((F.lit(2.0) * q) / (p + q))).alias("c_q"),
            dec(q).alias("q_in"),
        )
    )
    agg = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("c_p").cast("double").alias("s_p"),
        F.sum("c_q").cast("double").alias("s_q"),
        F.sum("q_in").cast("double").alias("qin"),
    )
    jsd = F.round(
        F.lit(0.5) * F.col("s_p")
        + F.lit(0.5)
        * (F.col("s_q") + F.lit(_LN2) * (F.lit(1.0) - F.col("qin"))),
        6,
    )
    return agg.select("source", "n_terms", jsd.alias("jsd_nats")).orderBy(
        "source"
    )


def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the stored language label and the
    char-trigram language-ID prediction — the chance-corrected agreement
    score that turns trigram_langid_confusion's matrix into one
    monitorable number (kappa < threshold is the labeler-drift alarm).
    Built ON the confusion matrix: po = diag/N; pe = Σ row·col / N²
    with the products summed as DECIMAL(38,0) (exact at any scale — a
    BIGINT product would overflow at 100-TB doc counts); kappa =
    (po − pe)/(1 − pe) is one fixed IEEE chain on those exact sums."""
    conf = trigram_langid_confusion(spark, sf_dir)
    n = conf.agg(F.sum("n_docs").cast("long").alias("n"))
    diag = conf.filter(F.col("lang") == F.col("predicted")).agg(
        F.sum("n_docs").cast("long").alias("n_agree")
    )
    rows = conf.groupBy("lang").agg(F.sum("n_docs").cast("long").alias("rn"))
    cols = conf.groupBy("predicted").agg(
        F.sum("n_docs").cast("long").alias("cn")
    )
    pe_num = (
        rows.join(cols, rows["lang"] == cols["predicted"])
        .select(
            (F.col("rn").cast("decimal(38,0)") * F.col("cn").cast("decimal(38,0)")).alias("rc")
        )
        .agg(F.sum("rc").cast("double").alias("pe_num"))
    )
    j = n.crossJoin(diag).crossJoin(pe_num)
    po = F.col("n_agree").cast("double") / F.col("n").cast("double")
    pe = F.col("pe_num") / (F.col("n").cast("double") * F.col("n").cast("double"))
    return j.select(
        "n",
        "n_agree",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


# -------------------------------------- batch 56: association + inequality
def cramers_v_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V over the (source, lang) contingency table — the
    normalized ([0,1]) effect-size companion to
    lang_source_independence's raw chi² (chi² grows with N; V is what a
    release-over-release dashboard compares): V = sqrt(chi² / (N·(min(R,
    C)−1))). The chi² fold is the house ascending-(source,lang) struct
    fold on exact-integer margins, kept UNROUNDED for the V chain (round
    once per output — the bucket_selector rule); sqrt is correctly
    rounded IEEE."""
    docs = load(spark, sf_dir, "documents")
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows = cells.groupBy("source").agg(F.sum("o").cast("long").alias("rt"))
    cols = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("ct"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    e = (
        F.col("rt").cast("double")
        * F.col("ct").cast("double")
        / F.col("n").cast("double")
    )
    contrib = (F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e
    j = (
        cells.join(F.broadcast(rows), "source")
        .join(F.broadcast(cols), "lang")
        .crossJoin(F.broadcast(n))
        .select("source", "lang", contrib.alias("c"))
    )
    folded = j.agg(canonical_sum("c", "source", "lang").alias("chi2_raw"))
    r = rows.agg(F.count(F.lit(1)).cast("long").alias("nr"))
    c = cols.agg(F.count(F.lit(1)).cast("long").alias("nc"))
    j2 = (
        folded.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(r))
        .crossJoin(F.broadcast(c))
    )
    v = F.sqrt(
        F.col("chi2_raw")
        / (
            F.col("n").cast("double")
            * (F.least("nr", "nc") - F.lit(1)).cast("double")
        )
    )
    return j2.select(
        "n",
        F.round(F.col("chi2_raw"), 6).alias("chi2"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round(v, 6).alias("cramers_v"),
    )


def theil_index_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of document lengths per source — the
    decomposable entropy-based inequality measure next to
    gini_coefficient (Theil is what mixture dashboards use because
    between/within-group terms add up): T = (1/n) Σ (x/μ)·ln(x/μ). μ is
    exact-integer sum / count; each doc's contribution is one fixed IEEE
    chain rounded 12dp and summed DECIMAL(28,12) (the KL rule), divided
    by n once. Zero-length docs are excluded (ln undefined)."""
    docs = load(spark, sf_dir, "documents")
    per = docs.select(
        "source", F.size(tokenize_col("text")).cast("long").alias("dl")
    ).filter(F.col("dl") > 0)
    stats = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot"),
    )
    mu = F.col("tot").cast("double") / F.col("n_docs").cast("double")
    x = F.col("dl").cast("double")
    contrib = F.round((x / mu) * F.log(x / mu), 12).cast("decimal(28,12)")
    j = per.join(F.broadcast(stats), "source").select(
        "source", contrib.alias("c")
    )
    agg = j.groupBy("source").agg(F.sum("c").cast("double").alias("s"))
    return (
        agg.join(stats, "source")
        .select(
            "source",
            "n_docs",
            F.round(mu, 6).alias("mean_dl"),
            F.round(F.col("s") / F.col("n_docs").cast("double"), 6).alias(
                "theil_t"
            ),
        )
        .orderBy("source")
    )


# --------------------------------- batch 57: Poisson bootstrap + data card
# Poisson(1) CDF as shared literals (the house rule: one Python float
# chain, never each engine's exp()) — P(X<=k) for k = 0..4; weights cap
# at 5 (P > 0.9996).
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
)
BOOTSTRAP_B = 64


def poisson_bootstrap_ci(
    spark: SparkSession, sf_dir: str, b: int = BOOTSTRAP_B
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean document length
    — THE distributed bootstrap (Chamandy et al., Google 2012): classic
    resampling needs a global row index (a corpus-wide shuffle); the
    Poisson trick gives each (doc, replica) an independent Poisson(1)
    weight instead, so every replica is one weighted mean computed in the
    same single pass, no index, no driver loop. Weights come from the
    engine-shared md5-uniform inverted through the pinned _POIS1_CDF
    literals (capped at 5); per-replica sums are EXACT BIGINTs (weight x
    integer dl), means round 6dp, and the 2.5/50/97.5 percentiles over
    the B replica means are exact type-7 (the percentile ==
    quantile_cont rule). Cost: B x corpus rows map-side, one groupBy(b),
    one bounded percentile over B values."""
    docs = load(spark, sf_dir, "documents")
    per = docs.select(
        "doc_id", F.size(tokenize_col("text")).cast("long").alias("dl")
    )
    reps = spark.range(b).select(F.col("id").cast("int").alias("b"))
    u = (
        _md5_52(
            F.concat(
                F.col("doc_id").cast("string"), F.lit(":boot:"),
                F.col("b").cast("string"),
            )
        ).cast("double")
        / F.lit(4503599627370496.0)  # 2^52
    )
    wgt = (
        F.when(u < _POIS1_CDF[0], 0)
        .when(u < _POIS1_CDF[1], 1)
        .when(u < _POIS1_CDF[2], 2)
        .when(u < _POIS1_CDF[3], 3)
        .when(u < _POIS1_CDF[4], 4)
        .otherwise(5)
        .cast("long")
    )
    means = (
        per.crossJoin(F.broadcast(reps))
        .select("b", wgt.alias("w"), (wgt * F.col("dl")).alias("wdl"))
        .groupBy("b")
        .agg(
            F.sum("w").cast("long").alias("sw"),
            F.sum("wdl").cast("long").alias("swdl"),
        )
        .select(
            F.round(
                F.col("swdl").cast("double") / F.col("sw").cast("double"), 6
            ).alias("m")
        )
    )
    stats = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("mean_dl"),
    )
    ci = means.agg(
        F.count(F.lit(1)).cast("long").alias("b_replicas"),
        F.round(F.expr("percentile(m, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.5)"), 6).alias("ci_mid"),
        F.round(F.expr("percentile(m, 0.975)"), 6).alias("ci_hi"),
    )
    return stats.crossJoin(F.broadcast(ci))


def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card summary — the one-table artifact a corpus
    release ships (HuggingFace dataset-card statistics section): doc and
    token counts, language breadth, the exact-duplicate fraction (member
    docs of any corpus-wide md5(text) group of size > 1 — exact_dedup's
    membership rule), and mean chars/doc. Integer counts, two
    map-side-combinable groupBys, one vocab-free hash self-rollup; the
    only floats are two final rounded divides."""
    docs = load(spark, sf_dir, "documents")
    groups = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("gn")
    )
    base = docs.select(
        "source",
        "lang",
        "n_chars",
        F.size(tokenize_col("text")).cast("long").alias("dl"),
        F.md5("text").alias("h"),
    ).join(groups, "h")
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("n_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum(F.when(F.col("gn") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_docs"),
            F.round(
                F.sum(F.when(F.col("gn") > 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_frac"),
            F.round(
                F.sum("n_chars").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_chars"),
        )
        .orderBy("source")
    )


# ----------------------------------- batch 58: code-switch detection
def code_switch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level code-switch detection rolled up by source — the
    multilingual-corpus audit a lang-ID pass at document granularity
    misses (CJK/EN mixing, quoted spans): per document, count marker
    tokens per language (membership in each STOPWORDS list, counted with
    multiplicity; a token in several lists votes for each — pinned
    rule), call a doc `marked` when any marker hits, `switched` when
    markers from >= 2 languages hit, and measure the minority fraction
    (1 - majority-language share of marker tokens). Per-source rollup:
    doc counts are exact integers; the mean minority fraction sums
    12dp-rounded DECIMAL(28,12) contributions (the scale-safe order-free
    pattern) before one final divide. Single corpus scan, one groupBy —
    shuffle-free per-row feature extraction."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    langs = list(STOPWORDS)
    cnts = []
    def _marker_count(words):
        arr = F.array(*[F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    for lang in langs:
        cnts.append(
            _marker_count(STOPWORDS[lang]).cast("long").alias(f"c_{lang}")
        )
    per = docs.select("source", *cnts)
    total = sum(F.col(f"c_{lang}") for lang in langs)
    maxc = F.greatest(*[F.col(f"c_{lang}") for lang in langs])
    nlang = sum(
        F.when(F.col(f"c_{lang}") > 0, 1).otherwise(0) for lang in langs
    )
    minority = (total - maxc).cast("double") / total.cast("double")
    feat = per.select(
        "source",
        (total > 0).cast("int").alias("marked"),
        (nlang >= 2).cast("int").alias("switched"),
        F.when(
            total > 0,
            F.round(minority, 12).cast("decimal(28,12)"),
        ).alias("minority_frac"),
    )
    return (
        feat.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("marked").cast("long").alias("n_marked"),
            F.sum("switched").cast("long").alias("n_switched"),
            F.round(
                F.sum("minority_frac").cast("double")
                / F.sum("marked").cast("double"),
                6,
            ).alias("mean_minority_frac"),
        )
        .orderBy("source")
    )


# --------------------------------- batch 59: ingest pipeline simulate
def ingest_pipeline_simulate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES ingest-pipeline `_simulate` parity — the processor chain a
    cluster runs on every indexed doc, executed as one codegen'd
    projection: lowercase -> gsub (digit runs collapse to '0') -> split
    (the shared whitespace analyzer) -> set (n_parts + an md5
    fingerprint of the normalized text). The fingerprint is the witness
    column: any divergence in any processor flips it. Shuffle-free
    per-row work; DuckDB's regexp_replace needs the 'g' flag to match
    Spark's replace-all default (the house trap list)."""
    docs = load(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "0")
    parts = tokenize_col(norm)
    joined = F.array_join(parts, " ")
    return docs.select(
        "doc_id",
        F.size(parts).cast("long").alias("n_parts"),
        F.md5(joined).alias("fingerprint"),
    ).orderBy("doc_id")


# --------------------------------- batch 61: MLM masking plan
MLM_MASK_RATE = 0.15
MLM_MASK_TOK = 0.8
MLM_RANDOM = 0.9
_2_52 = 4503599627370496.0


def mlm_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style MLM masking plan (Devlin et al. 2019 §3.1 — the
    span_corruption_stats sibling for encoder pretraining): each token
    position draws an md5-uniform; positions under 15% are selected, and
    a second independent draw splits them 80/10/10 into [MASK] / random
    token / keep-original. Both draws are the engine-shared 52-bit md5
    on (doc_id, role, position), so the realized plan is identical at
    any parallelism and in the DuckDB twin. Per-doc outputs are counts
    plus an md5 witness over the selected position list — any divergence
    in any draw flips the witness. Shuffle-free single scan; position
    enumeration is a codegen filter over sequence(1, dl) (guarded: empty
    docs pin an empty array — the sequence-descends trap)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    dl = F.size(toks)
    pos = F.when(dl >= 1, F.sequence(F.lit(1), dl)).otherwise(
        F.array().cast("array<int>")
    )

    def u(role, i):
        return (
            _md5_52(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(f":{role}:"),
                    i.cast("string"),
                )
            ).cast("double")
            / F.lit(_2_52)
        )

    masked = F.filter(pos, lambda i: u("mask", i) < MLM_MASK_RATE)
    n_mask_tok = F.size(
        F.filter(masked, lambda i: u("act", i) < MLM_MASK_TOK)
    )
    n_random = F.size(
        F.filter(
            masked,
            lambda i: (u("act", i) >= MLM_MASK_TOK)
            & (u("act", i) < MLM_RANDOM),
        )
    )
    witness = F.md5(
        F.array_join(F.transform(masked, lambda i: i.cast("string")), ",")
    )
    return docs.select(
        "doc_id",
        dl.cast("long").alias("n_tokens"),
        F.size(masked).cast("long").alias("n_masked"),
        n_mask_tok.cast("long").alias("n_mask_tok"),
        n_random.cast("long").alias("n_random"),
        (F.size(masked) - n_mask_tok - n_random).cast("long").alias("n_keep"),
        witness.alias("witness"),
    ).orderBy("doc_id")


def coleman_liau_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coleman-Liau readability per source — the third readability
    screen next to flesch and ARI, chosen because it is letter-based
    (no syllable model, robust to tokenizer choice): CLI = 0.0588·L −
    0.296·S − 15.8 with L = letters per 100 words and S = sentences per
    100 words (sentences = greatest(1, terminal-punct count), the
    flesch/ARI guard for the punctuation-free synthetic corpus).
    Per-source mean via 12dp DECIMAL(28,12) sums (the DECIMAL-mean
    rule); letters count only [A-Za-z]."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    letters = F.length(
        F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")
    ).cast("long")
    words = F.size(toks).cast("long")
    sents = F.greatest(
        F.lit(1).cast("long"),
        (
            F.length(F.col("text"))
            - F.length(F.regexp_replace(F.col("text"), "[.!?]", ""))
        ).cast("long"),
    )
    cli = (
        F.lit(0.0588)
        * (F.lit(100.0) * letters.cast("double") / words.cast("double"))
        - F.lit(0.296)
        * (F.lit(100.0) * sents.cast("double") / words.cast("double"))
        - F.lit(15.8)
    )
    per = docs.filter(F.size(toks) > 0).select(
        "source", F.round(cli, 12).cast("decimal(28,12)").alias("cli")
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("cli").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_cli"),
        )
        .orderBy("source")
    )


# --------------------------------- batch 63: TextRank keywords
TEXTRANK_D = 0.85
TEXTRANK_ITERS = 3
TEXTRANK_MIN_SUPPORT = 2
TEXTRANK_TOP_K = 10


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) over the
    corpus-level word co-occurrence graph — the graph-centrality
    complement to tfidf_keywords' frequency view: vertices are word
    types, edges are adjacent-token pairs (window 2) seen >=
    TEXTRANK_MIN_SUPPORT times corpus-wide, and the score is 3 unrolled
    PageRank iterations at damping 0.85 (part_pagerank_3iter's exact
    discipline: neighbor contributions rounded 12dp and summed as
    DECIMAL — order-free; the oracle unrolls the same CTEs). The graph
    is vocabulary-sized (types, not tokens), so every iteration is a
    vocab-scale join however big the corpus."""
    docs = load(spark, sf_dir, "documents")
    t = tokenize_col("text")
    pair = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.concat_ws(
                " ",
                F.least(F.element_at(t, i), F.element_at(t, i + 1)),
                F.greatest(F.element_at(t, i), F.element_at(t, i + 1)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    e = (
        docs.select(F.explode(pair).alias("pr"))
        .groupBy("pr")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= TEXTRANK_MIN_SUPPORT)
        .select(
            F.split_part(F.col("pr"), F.lit(" "), F.lit(1)).alias("wa"),
            F.split_part(F.col("pr"), F.lit(" "), F.lit(2)).alias("wb"),
        )
        .filter(F.col("wa") != F.col("wb"))
    )
    edges = e.select(F.col("wa").alias("src"), F.col("wb").alias("dst")).unionAll(
        e.select(F.col("wb").alias("src"), F.col("wa").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    n_nodes = deg.count()
    base = (1.0 - TEXTRANK_D) / float(n_nodes)
    rank = deg.select("src", F.lit(1.0 / float(n_nodes)).alias("r"))
    for _ in range(TEXTRANK_ITERS):
        contrib = (
            edges.join(rank, "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(
                    F.lit(TEXTRANK_D) * F.col("r") / F.col("deg").cast("double"),
                    12,
                )
                .cast("decimal(28,12)")
                .alias("c"),
            )
        )
        rank = (
            contrib.groupBy("node")
            .agg((F.lit(base) + F.sum("c").cast("double")).alias("r"))
            .select(F.col("node").alias("src"), "r")
        )
    from pyspark.sql import Window

    scored = rank.select(
        F.col("src").alias("term"), F.round("r", 6).alias("textrank")
    )
    w = Window.orderBy(F.col("textrank").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TEXTRANK_TOP_K)
        .orderBy("rank")
    )


def bpe_merge_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training step 2 (the merge application bpe_pair_counts
    stops short of): apply the single argmax character-pair merge and
    measure the realized corpus compression. The argmax counts
    OVERLAPPING adjacent pairs (classic BPE statistics) but application
    is leftmost non-overlapping (greedy merge), realized here as
    (len(word) - len(replace(word, pair, ''))) div 2 — literal replace,
    no regex, identical leftmost semantics in both engines. Work runs
    over WORD TYPES weighted by corpus frequency (the count-then-expand
    rewrite: vocabulary-scale, never token-scale). Output: the merge
    pair, realized merges, symbol counts before/after, compression."""
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokenize_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    pairs_arr = F.when(
        F.length("word") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("word") - 1),
            lambda i: F.col("word").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        words.select("freq", F.explode(pairs_arr).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("count"))
    )
    top = counts.orderBy(F.desc("count"), F.asc("pair")).limit(1).collect()
    pair = top[0]["pair"]  # bounded: one row crosses the driver
    plit = pair.replace("'", "''")
    # `div` — exact integral halving (the `/`-is-float floor trap)
    merges_w = F.expr(
        f"(length(word) - length(replace(word, '{plit}', ''))) div 2"
    ).cast("long")
    agg = words.agg(
        F.sum(F.col("freq") * F.length("word").cast("long"))
        .cast("long")
        .alias("symbols_before"),
        F.sum(F.col("freq") * merges_w).cast("long").alias("n_merges"),
    )
    return agg.select(
        F.lit(pair).alias("pair"),
        "n_merges",
        "symbols_before",
        (F.col("symbols_before") - F.col("n_merges"))
        .cast("long")
        .alias("symbols_after"),
        F.round(
            (F.col("symbols_before") - F.col("n_merges")).cast("double")
            / F.col("symbols_before").cast("double"),
            6,
        ).alias("compression"),
    )


RAKE_TOP_K = 15
RAKE_MAX_PHRASE_LEN = 4
# RAKE's delimiter set: the union of every per-language stoplist (sorted so
# the Spark isin() list and the SQL IN list are the same literal sequence).
RAKE_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})


def rake_keywords(
    spark: SparkSession, sf_dir: str, k: int = RAKE_TOP_K
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — the third keyword
    surface next to tfidf_keywords / textrank_keywords: candidate
    phrases are maximal stopword-free token runs (classic
    gaps-and-islands on position), capped at 4 words; word score =
    deg(w)/freq(w) over all candidate occurrences (deg counts the
    phrase length, i.e. self + co-occurring words); a phrase scores the
    sum of its member word scores. deg/freq are EXACT integers; the
    word score is one divide rounded to a 12dp DECIMAL so the per-phrase
    sum is order-free; ranks cut on the 6dp-rounded score with the
    phrase text as total-order tiebreak. Shuffles: the per-doc island
    window, two vocab-bounded groupBys, one word-score equi-join."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    pos_w = docs.select(
        "doc_id", F.posexplode(toks).alias("p0", "w")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "w")
    nonstop = pos_w.filter(~F.col("w").isin(RAKE_STOPWORDS))
    wn = Window.partitionBy("doc_id").orderBy("pos")
    isl = nonstop.withColumn("grp", F.col("pos") - F.row_number().over(wn))
    phrases = (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= RAKE_MAX_PHRASE_LEN)
    )
    wstat = (
        phrases.select(F.explode(F.split("phrase", " ")).alias("w"), "plen")
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("plen").cast("long").alias("deg"),
        )
        .select(
            "w",
            F.round(
                F.col("deg").cast("double") / F.col("freq").cast("double"),
                12,
            )
            .cast("decimal(28,12)")
            .alias("wscore"),
        )
    )
    dphr = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    scored = (
        dphr.select(
            "phrase",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("w"),
        )
        .join(wstat, "w")
        .groupBy("phrase", "n_occurrences")
        .agg(F.round(F.sum("wscore").cast("double"), 6).alias("score"))
    )
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    return ranked_topk(
        scored, [F.desc("score"), F.asc("phrase")], k
    ).select("rank", "phrase", "n_occurrences", "score")


DUP_RUN_MIN = 5


def dup_shingle_run_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source longest-duplicated-substring profile — the tractable
    distributed stand-in for suffix-array exact-substring dedup (Lee et
    al. 2021 'Deduplicating Training Data Makes LMs Better'): a 3-gram
    shingle is 'duplicated' when it occurs in >=2 distinct docs; per doc
    the longest CONSECUTIVE run of duplicated shingles (gaps-and-islands
    on shingle position) approximates the doc's longest substring shared
    with the rest of the corpus (run r = r+2 shared tokens). The report
    rolls up per source: docs with any dup run, max/mean longest run,
    and docs at/above the cut-worthy threshold. All counts are exact
    integers; the only float is one 6dp mean divide. Shuffles: the
    shingle-df groupBy, the dup-flag equi-join back (corpus-linear, a
    flag join, never a pair join), the per-doc island window."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    idx = F.sequence(F.lit(1), F.size(toks) - 2)
    sh_arr = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i),
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
        ),
    )
    base = (
        docs.filter(F.size(toks) >= 3)
        .select("doc_id", F.posexplode(sh_arr).alias("p0", "sh"))
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "sh")
    )
    dupsh = (
        base.select("sh", "doc_id")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    wn = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        base.join(dupsh, "sh")
        .withColumn("grp", F.col("pos") - F.row_number().over(wn))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).cast("long").alias("run"))
    )
    per_doc = runs.groupBy("doc_id").agg(F.max("run").alias("longest"))
    rep = (
        docs.select("doc_id", "source")
        .join(per_doc, "doc_id", "left")
        .select(
            "source",
            F.coalesce(F.col("longest"), F.lit(0)).cast("long").alias(
                "longest"
            ),
        )
    )
    return (
        rep.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("longest") > 0).cast("int"))
            .cast("long")
            .alias("docs_with_dup"),
            F.max("longest").cast("long").alias("max_run"),
            F.round(
                F.sum("longest").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_longest_run"),
            F.sum((F.col("longest") >= DUP_RUN_MIN).cast("int"))
            .cast("long")
            .alias("docs_run_ge_min"),
        )
        .orderBy("source")
    )


FEATURE_HASH_BUCKETS = 4096


def feature_hash_collision_report(
    spark: SparkSession, sf_dir: str, n_buckets: int = FEATURE_HASH_BUCKETS
) -> DataFrame:
    """Hashing-trick collision audit (fastText / VW feature hashing):
    every distinct corpus term hashes to feature = md5_52(term) mod
    n_buckets; the report is the bucket-load histogram — for each load
    L, how many buckets hold exactly L distinct terms (load 0 = the
    empty-bucket row, computed as n_buckets minus used) and how much
    token MASS (sum of cf) rides collided buckets at that load. The
    sizing curve a feature-hashed model reads before picking table
    width. All-integer; two vocab-bounded groupBys."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    bucket = F.pmod(_md5_52(F.col("term")), F.lit(n_buckets))
    per_bucket = vocab.select(bucket.alias("b"), "cf").groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("load"),
        F.sum("cf").cast("long").alias("mass"),
    )
    hist = per_bucket.groupBy("load").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("mass").cast("long").alias("token_mass"),
    )
    used = per_bucket.agg(F.count(F.lit(1)).cast("long").alias("u"))
    empty = used.select(
        F.lit(0).cast("long").alias("load"),
        (F.lit(n_buckets) - F.col("u")).cast("long").alias("n_buckets"),
        F.lit(0).cast("long").alias("token_mass"),
    ).filter(F.col("n_buckets") > 0)
    return hist.unionByName(empty).orderBy("load")


def hll_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeability story behind hll_cardinality: per-source HLL
    registers (p=12, same md5 12/40 bit split) estimate each source's
    vocabulary, and the UNION row folds those SAME registers with a
    bucket-wise max — the sketch-merge every distributed cardinality
    pipeline ships to the coordinator instead of raw values. Exact
    distinct counts ride alongside for the error column. Registers per
    source: one (source, bucket) groupBy; the union re-agg touches only
    sources x 4096 rows — coordinator-sized at any corpus."""
    docs = load(spark, sf_dir, "documents")
    st = docs.select(
        "source", F.explode(tokenize_col("text")).alias("term")
    ).distinct()
    h = _md5_52(F.col("term"))
    w = h.bitwiseAND(F.lit((1 << 40) - 1))
    rho = (
        F.when(w == 0, F.lit(41))
        .otherwise(F.lit(40) - F.floor(F.log2(w.cast("double"))))
        .cast("int")
    )
    regs = (
        st.select(
            "source", F.shiftright(h, 40).alias("bucket"), rho.alias("rho")
        )
        .groupBy("source", "bucket")
        .agg(F.max("rho").alias("m_j"))
    )
    union_regs = regs.groupBy("bucket").agg(F.max("m_j").alias("m_j"))

    def fold(r: DataFrame) -> DataFrame:
        return r.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("used"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 41 - m_j)"))
            .cast("long")
            .alias("s_used"),
        )

    folded = fold(regs).unionByName(
        fold(union_regs.select(F.lit("(union)").alias("source"), "m_j"))
    )
    exact = (
        st.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .unionByName(
            st.select("term")
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
            .select(F.lit("(union)").alias("source"), "n_exact")
        )
    )
    s_int = F.col("s_used") + (F.lit(_HLL_M) - F.col("used")) * F.lit(1 << 41)
    e_raw = F.lit(_HLL_ALPHA_NUM) / s_int.cast("double")
    v = (F.lit(_HLL_M) - F.col("used")).cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * _HLL_M)) & (v > 0),
        F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v),
    ).otherwise(e_raw)
    return (
        folded.join(exact, "source")
        .select(
            "source",
            "n_exact",
            "used",
            F.round(est, 4).alias("hll_estimate"),
            F.round(
                F.abs(est - F.col("n_exact").cast("double"))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


DBSCAN_CELL = 100000  # 10-degree cells on the 1e4-scaled integer grid
DBSCAN_FACTOR = 2  # core = neighborhood density >= 2x the uniform mean
DBSCAN_N_CELLS = 18 * 36  # the full 10-degree lat x lon grid


def geo_grid_dbscan_cores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-DBSCAN core-cell detection over the shared md5 geo field:
    docs land in 10-degree cells ON THE INTEGER 1e-4-degree grid (no
    float binning), each cell's 3x3 neighborhood count is one
    explode-shift groupBy (the distributed epsilon-neighborhood — 9
    shifted contributions per non-empty cell, never a spatial
    self-join), and a cell is a CORE when its neighborhood beats
    DBSCAN_FACTOR x the uniform expectation (9 cells' worth of mean
    density) — the comparison cross-multiplied in BIGINTs so it is
    scale-free and float-free. Bounded output: every non-empty cell
    with its own count, neighborhood count, and core flag."""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    latm = F.pmod(
        _md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":lat"))),
        F.lit(1800001),
    )
    lonm = F.pmod(
        _md5_52(F.concat(F.col("doc_id").cast("string"), F.lit(":lon"))),
        F.lit(3600001),
    )
    cells = docs.select(
        latm.alias("latm"), lonm.alias("lonm")
    ).select(
        F.expr(f"latm div {DBSCAN_CELL}").cast("long").alias("cx"),
        F.expr(f"lonm div {DBSCAN_CELL}").cast("long").alias("cy"),
    )
    counts = cells.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    shifts = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    nb = (
        counts.select("cx", "cy", "n", F.explode(shifts).alias("sh"))
        .select(
            (F.col("cx") + F.col("sh.dx")).alias("tx"),
            (F.col("cy") + F.col("sh.dy")).alias("ty"),
            "n",
        )
        .groupBy("tx", "ty")
        .agg(F.sum("n").cast("long").alias("nb_count"))
    )
    total = counts.agg(F.sum("n").cast("long").alias("n_docs"))
    out = (
        counts.join(
            nb,
            (counts.cx == nb.tx) & (counts.cy == nb.ty),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "cx",
            "cy",
            "n",
            "nb_count",
            # nb_count / 9 >= FACTOR * n_docs / N_CELLS, cross-multiplied
            (
                F.col("nb_count") * F.lit(DBSCAN_N_CELLS)
                >= F.lit(DBSCAN_FACTOR * 9) * F.col("n_docs")
            )
            .cast("int")
            .alias("is_core"),
        )
    )
    return out.orderBy("cx", "cy")


AMS_SKETCHES = 8  # independent +-1 sketches averaged


def ams_f2_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996)
    audited against the exact F2 = sum cf^2 of the token distribution:
    each of AMS_SKETCHES sketches draws a +-1 sign per term from md5
    parity and keeps X_i = sum_t s_i(t)*cf_t — a single BIGINT per
    sketch, mergeable by addition (the sketch is one map-side-combining
    groupBy however large the corpus); E[X^2] = F2. The estimate is
    the mean of the 8 squares. Everything before the final division is
    exact integer arithmetic."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    signed = vocab.select(
        "cf",
        *[
            F.when(
                F.pmod(
                    _md5_52(
                        F.concat(F.lit(f"{i}:"), F.col("term"), F.lit(":ams"))
                    ),
                    F.lit(2),
                )
                == 0,
                F.col("cf"),
            )
            .otherwise(-F.col("cf"))
            .alias(f"x{i}")
            for i in range(AMS_SKETCHES)
        ],
    )
    agg = signed.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.col("cf") * F.col("cf")).cast("long").alias("f2_exact"),
        *[
            F.sum(F.col(f"x{i}")).cast("long").alias(f"s{i}")
            for i in range(AMS_SKETCHES)
        ],
    )
    est_sum = None
    for i in range(AMS_SKETCHES):
        sq = F.col(f"s{i}") * F.col(f"s{i}")
        est_sum = sq if est_sum is None else est_sum + sq
    est = est_sum.cast("double") / F.lit(float(AMS_SKETCHES))
    return agg.select(
        "n_terms",
        "f2_exact",
        F.round(est, 6).alias("f2_estimate"),
        F.round(
            F.abs(est - F.col("f2_exact").cast("double"))
            / F.col("f2_exact").cast("double"),
            6,
        ).alias("rel_err"),
    )


K_ANON_THRESHOLD = 5
K_ANON_CHARS_BUCKET = 200


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the release quasi-identifier
    (lang, source, n_chars bucketed to K_ANON_CHARS_BUCKET): the
    minimum equivalence-class size and how many documents sit in
    classes below K_ANON_THRESHOLD — the re-identification risk
    summary a privacy review reads before a corpus ships. One groupBy
    at quasi-identifier cardinality; all integers."""
    docs = load(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.expr(f"n_chars div {K_ANON_CHARS_BUCKET}").alias("len_b"),
    )
    groups = docs.groupBy("lang", "source", "len_b").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    return groups.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("k").cast("long").alias("k_min"),
        F.sum((F.col("k") < K_ANON_THRESHOLD).cast("int"))
        .cast("long")
        .alias("classes_below_k"),
        F.coalesce(
            F.sum(F.when(F.col("k") < K_ANON_THRESHOLD, F.col("k"))),
            F.lit(0),
        )
        .cast("long")
        .alias("docs_below_k"),
        F.sum("k").cast("long").alias("n_docs"),
    )


DP_EPSILON = 1.0


def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private released counts (Laplace mechanism,
    sensitivity 1, pinned epsilon) over per-lang document counts, with
    the DETERMINISTIC md5-uniform noise draw the reproducible-release
    recipe uses: u = md5_52(lang)/2^52, noise = -(1/eps) * sgn(u-1/2) *
    ln(1 - 2|u - 1/2|) — the exact Laplace inverse CDF on identical
    parsed doubles in both engines (ln over identical operands, the
    BM25 precedent). True counts ride alongside: the gate verifies the
    MECHANISM's arithmetic, not secrecy."""
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    u = _md5_52(F.concat(F.col("lang"), F.lit(":dp"))).cast(
        "double"
    ) / F.lit(float(1 << 52))
    half = u - F.lit(0.5)
    mag = F.lit(1.0) - F.lit(2.0) * F.abs(half)
    noise = (
        F.lit(-1.0 / DP_EPSILON)
        * F.when(half >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(mag)
    )
    return counts.select(
        "lang",
        "n",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n").cast("double") + noise, 6).alias("noisy_n"),
    ).orderBy("lang")


NEYMAN_BUDGET = 1000  # total sample size to apportion


def neyman_allocation_plan(
    spark: SparkSession, sf_dir: str, budget: int = NEYMAN_BUDGET
) -> DataFrame:
    """Neyman-optimal stratified-sample allocation with
    largest-remainder (Hamilton) integer apportionment: strata =
    (lang, source), weight w_h = N_h * S_h (S_h = sample stddev of
    n_chars from exact integer sufficient statistics), raw share =
    budget * w_h / W, each stratum gets floor(share) and the leftover
    units go to the largest fractional remainders (ties by stratum
    key) — the exact-sum-preserving rounding every survey pipeline
    needs. Remainders compare at a 12dp round on identical operands;
    the apportionment invariant (allocations sum to the budget) is
    structural. Stratum-sized frames end to end."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("x"),
    )
    g = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    nd = F.col("n_h").cast("double")
    m = F.col("sx").cast("double") / nd
    s_h = F.when(
        F.col("n_h") > 1,
        F.sqrt(
            (F.col("sxx").cast("double") - nd * m * m)
            / (nd - F.lit(1.0))
        ),
    ).otherwise(F.lit(0.0))
    wh = g.select(
        "lang",
        "source",
        "n_h",
        F.round(s_h, 6).alias("s_h"),
        F.round(nd * s_h, 6).cast("decimal(28,6)").alias("w_h"),
    )
    tot = wh.agg(F.sum("w_h").alias("w_tot"))
    shares = wh.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_h",
        "s_h",
        (
            F.lit(float(budget))
            * F.col("w_h").cast("double")
            / F.col("w_tot").cast("double")
        ).alias("raw"),
    )
    based = shares.select(
        "lang",
        "source",
        "n_h",
        "s_h",
        F.round("raw", 6).alias("raw_share"),
        F.floor("raw").cast("long").alias("base"),
        F.round(F.col("raw") - F.floor("raw"), 12).alias("rem"),
    )
    leftover = based.agg(
        (F.lit(budget) - F.sum("base")).cast("long").alias("extra")
    )
    w = Window.orderBy(F.desc("rem"), F.asc("lang"), F.asc("source"))
    ranked = based.crossJoin(F.broadcast(leftover)).withColumn(
        "rr", F.row_number().over(w)
    )
    return ranked.select(
        "lang",
        "source",
        "n_h",
        "s_h",
        "raw_share",
        (
            F.col("base")
            + (F.col("rr") <= F.col("extra")).cast("long")
        ).alias("allocated"),
    ).orderBy("lang", "source")


DICT_AUDIT_COLS = [("documents", "lang"), ("documents", "source"),
                   ("orders", "o_orderpriority"),
                   ("lineitem", "l_returnflag")]


def dict_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding benefit audit (the parquet/ORC encode
    decision, companion of rle_encodability_audit): per string column,
    plain bytes = sum of value lengths vs dict bytes = dictionary
    payload + ceil(n_rows x index_bits / 8), index_bits =
    ceil(log2(cardinality)) computed INTEGER-ONLY as the bit length of
    (cardinality - 1) — no float log near a power-of-two boundary.
    All integers except the final ratio."""
    out = None
    for tbl, col in DICT_AUDIT_COLS:
        df = load(spark, sf_dir, tbl).select(F.col(col).alias("v"))
        dstats = df.select("v").distinct().agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.length("v")).cast("long").alias("dict_payload"),
        )
        base = df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.length("v")).cast("long").alias("plain_bytes"),
        )
        j = base.crossJoin(F.broadcast(dstats)).withColumn(
            "index_bits",
            F.when(F.col("n_distinct") <= 2, F.lit(1))
            .otherwise(F.length(F.bin(F.col("n_distinct") - 1)))
            .cast("int"),
        ).withColumn(
            "dict_bytes",
            (
                F.col("dict_payload")
                + F.expr(
                    "(n_rows * index_bits + 7) div 8"
                ).cast("long")
            ).cast("long"),
        )
        row = j.select(
            F.lit(tbl).alias("tbl"),
            F.lit(col).alias("col"),
            "n_rows",
            "n_distinct",
            "plain_bytes",
            "index_bits",
            "dict_bytes",
            F.round(
                F.col("dict_bytes").cast("double")
                / F.col("plain_bytes").cast("double"),
                6,
            ).alias("compression_ratio"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tbl", "col")


JOIN_SKEW_KEYS = [("events", "user_id"), ("lineitem", "l_partkey"),
                  ("lineitem", "l_suppkey")]


def join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report — the diagnosis a 100-TB join plan runs
    before choosing salting / AQE skew-join: per candidate join key,
    group-size p50/p99 (exact type-7), the hottest key's share of all
    rows, and the skew factor max/mean. Everything derives from one
    groupBy per key at key cardinality; all integer inputs, 6dp
    ratios."""
    out = None
    for tbl, key in JOIN_SKEW_KEYS:
        df = load(spark, sf_dir, tbl).select(F.col(key).alias("k"))
        g = df.groupBy("k").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        row = g.agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("c").cast("long").alias("n_rows"),
            F.max("c").cast("long").alias("max_group"),
            F.expr("percentile(c, 0.5)").alias("p50_group"),
            F.expr("percentile(c, 0.99)").alias("p99_group"),
        ).select(
            F.lit(tbl).alias("tbl"),
            F.lit(key).alias("key"),
            "n_keys",
            "n_rows",
            "max_group",
            F.round("p50_group", 6).alias("p50_group"),
            F.round("p99_group", 6).alias("p99_group"),
            F.round(
                F.col("max_group").cast("double")
                / F.col("n_rows").cast("double"),
                6,
            ).alias("max_key_share"),
            F.round(
                F.col("max_group").cast("double")
                / (
                    F.col("n_rows").cast("double")
                    / F.col("n_keys").cast("double")
                ),
                6,
            ).alias("skew_factor"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("tbl", "key")


def packing_attention_waste(
    spark: SparkSession, sf_dir: str, budget: int = PACKING_BUDGET
) -> DataFrame:
    """The cost side of packing_stats' layout: for each FULL packed
    context, the fraction of attention pairs that cross a document
    boundary — 1 - sum(seg_len^2)/budget^2 over the document segments
    the context holds (the quantity document-masking / best-fit
    packing papers optimize). Same pinned placement as packing_stats
    (per-source concat in doc_id order); each doc explodes to the
    bins it overlaps (bounded by dl/budget + 1), segment lengths are
    exact integer interval intersections, and the per-source mean
    cross-fraction re-enters DECIMAL at 12dp. Partial tail bins are
    excluded — their pair budget differs."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "doc_id",
        F.size(tokenize_col("text")).cast("long").alias("dl"),
    ).filter(F.col("dl") > 0)
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    placed = base.select(
        "source",
        "dl",
        (F.sum("dl").over(w) - F.col("dl")).alias("off"),
    )
    segs = placed.select(
        "source",
        "off",
        "dl",
        F.explode(
            F.sequence(
                F.expr(f"off div {budget}"),
                F.expr(f"(off + dl - 1) div {budget}"),
            )
        ).alias("b"),
    ).select(
        "source",
        "b",
        (
            F.least(
                F.col("off") + F.col("dl"),
                (F.col("b") + 1) * F.lit(budget),
            )
            - F.greatest(F.col("off"), F.col("b") * F.lit(budget))
        ).alias("seg"),
    )
    bins = segs.groupBy("source", "b").agg(
        F.sum("seg").cast("long").alias("binlen"),
        F.sum(F.col("seg") * F.col("seg")).cast("long").alias("sumsq"),
        F.count(F.lit(1)).cast("long").alias("n_segs"),
    )
    full = bins.filter(F.col("binlen") == budget).select(
        "source",
        "n_segs",
        F.round(
            F.lit(1.0)
            - F.col("sumsq").cast("double")
            / F.lit(float(budget) * float(budget)),
            12,
        )
        .cast("decimal(28,12)")
        .alias("cross"),
    )
    return (
        full.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_full_bins"),
            F.round(
                F.sum("cross").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_cross_frac"),
            F.round(
                F.sum("n_segs").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_docs_per_bin"),
        )
        .orderBy("source")
    )


PASS_AT_K = 3


def pass_at_k_estimate(
    spark: SparkSession, sf_dir: str, k: int = PASS_AT_K
) -> DataFrame:
    """The unbiased pass@k estimator (Chen et al. 2021, public):
    1 - C(n-c, k)/C(n, k) computed as the bounded product
    prod_{i<k} (n-c-i)/(n-i) — exact per task because k is pinned
    small. Tasks here are users, trials their events, successes their
    purchases (the estimator's arithmetic is the gate; the mapping is
    the corpus stand-in). Per-task estimates re-enter DECIMAL at 12dp
    for the order-free mean. Tasks with n < k are excluded per the
    paper's protocol."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("long")
        .alias("c"),
    ).filter(F.col("n") >= k)
    prod = F.lit(1.0)
    for i in range(k):
        prod = prod * (
            (F.col("n") - F.col("c") - F.lit(i)).cast("double")
            / (F.col("n") - F.lit(i)).cast("double")
        )
    est = F.when(F.col("n") - F.col("c") < k, F.lit(1.0)).otherwise(
        F.lit(1.0) - prod
    )
    scored = per.select(
        F.round(est, 12).cast("decimal(28,12)").alias("p")
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_tasks"),
        F.lit(k).cast("int").alias("k"),
        F.round(
            F.sum("p").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_pass_at_k"),
    )


def hapax_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena report: per source (plus the corpus row) the
    vocabulary size, the count of terms occurring exactly once, and
    the hapax fraction — the long-tail health metric beside
    lexical_diversity's TTR and zipf_fit's slope. Vocabulary-sized
    groupBys only."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokenize_col("text")).alias("term")
    )
    per_src = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("cf")
    )
    src_rows = per_src.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum((F.col("cf") == 1).cast("int")).cast("long").alias("hapax"),
    )
    corpus = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum((F.col("cf") == 1).cast("int"))
            .cast("long")
            .alias("hapax"),
        )
        .select(F.lit("(corpus)").alias("source"), "vocab", "hapax")
    )
    return (
        src_rows.unionByName(corpus)
        .select(
            "source",
            "vocab",
            "hapax",
            F.round(
                F.col("hapax").cast("double") / F.col("vocab").cast("double"),
                6,
            ).alias("hapax_frac"),
        )
        .orderBy("source")
    )


CDC_WGRAM = 8  # boundary test window (chars)
CDC_DIVISOR = 64  # expected chunk length ~ divisor chars


def cdc_chunk_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking statistics (the Rabin/FastCDC boundary
    discipline storage dedup uses, deterministic md5 stand-in): a
    boundary falls after position i when md5 of the trailing
    CDC_WGRAM-char window hashes to 0 mod CDC_DIVISOR — content-local,
    so an insertion only reshuffles nearby chunks (the CDC property;
    fixed-size chunking would shift every boundary). The report is the
    corpus histogram of chunk lengths in CDC_DIVISOR-char buckets plus
    the doc count — the distribution a dedup-store capacity plan reads.
    Window enumeration is one sequence-transform codegen expression per
    doc; everything else is integer groupBys."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    n = F.length("text")
    # boundary positions: i = end index (W..len) where the window hashes
    # to 0 mod D; chunk bounds = [prev boundary, i)
    bounds = docs.filter(n >= CDC_WGRAM).select(
        "doc_id",
        n.alias("len"),
        F.filter(
            F.transform(
                F.sequence(F.lit(CDC_WGRAM), n),
                lambda i: F.when(
                    F.pmod(
                        _md5_52(
                            F.substring(
                                F.col("text"),
                                (i - F.lit(CDC_WGRAM - 1)).cast("int"),
                                CDC_WGRAM,
                            )
                        ),
                        F.lit(CDC_DIVISOR),
                    )
                    == 0,
                    i,
                ).otherwise(F.lit(None)),
            ),
            lambda x: x.isNotNull(),
        ).alias("cuts"),
    )
    chunks = bounds.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.concat(F.array(F.lit(0)), F.col("cuts")),
                F.concat(F.col("cuts"), F.array(F.col("len"))),
                lambda a, b: (b - a).cast("long"),
            )
        ).alias("clen"),
    ).filter(F.col("clen") > 0)
    return (
        chunks.groupBy(
            F.expr(f"clen div {CDC_DIVISOR}").cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("clen").cast("long").alias("total_chars"),
        )
        .orderBy("bucket")
    )


RECSYS_TOPK = 5


def recsys_coverage_novelty(
    spark: SparkSession, sf_dir: str, k: int = RECSYS_TOPK
) -> DataFrame:
    """Recommender-list quality metrics over the co-order
    item-similarity top-k (item_cosine_similarity's raw-count
    neighbor lists as 'recommendations'): CATALOG COVERAGE = distinct
    recommended parts / catalog size, and NOVELTY = mean
    -log2(popularity share) of recommended items (Vargas & Castells
    2011, public) — the long-tail exposure numbers a recsys review
    reads beside accuracy. Popularity shares are exact integer ratios;
    logs on identical operands re-enter DECIMAL at 12dp for the mean.
    One co-order groupBy + a top-k window per item."""
    from pyspark.sql import Window

    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pb"))
    co = (
        a.join(b, (a.ok == b.ok2) & (a.pa != b.pb))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    w = Window.partitionBy("pa").orderBy(F.desc("c"), F.asc("pb"))
    recs = (
        co.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select("pa", "pb")
    )
    catalog = load(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("long").alias("n_catalog")
    )
    pop = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    tot = li.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    nov = (
        recs.join(pop, recs.pb == pop.l_partkey)
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                -F.log2(
                    F.col("n_orders").cast("double")
                    / F.col("n_total").cast("double")
                ),
                12,
            )
            .cast("decimal(28,12)")
            .alias("nv")
        )
    )
    cov = recs.select(F.col("pb")).distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_recommended")
    )
    nrecs = recs.agg(F.count(F.lit(1)).cast("long").alias("n_lists"))
    novagg = nov.agg(
        F.round(
            F.sum("nv").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_novelty")
    )
    return (
        cov.crossJoin(catalog)
        .crossJoin(nrecs)
        .crossJoin(novagg)
        .select(
            "n_recommended",
            "n_catalog",
            F.round(
                F.col("n_recommended").cast("double")
                / F.col("n_catalog").cast("double"),
                6,
            ).alias("catalog_coverage"),
            "n_lists",
            "mean_novelty",
        )
    )


L_DIVERSITY_MIN = 3


def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007, public) — the
    sensitive-attribute sequel to k_anonymity_audit: equivalence
    classes are (source, n_chars bucket), the sensitive attribute is
    lang; a class is l-diverse when it carries >= L_DIVERSITY_MIN
    distinct langs. Reports class counts, the minimum diversity, and
    the documents exposed in under-diverse classes. Class-cardinality
    groupBys; all integers."""
    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.expr("n_chars div 200").alias("len_b"),
        "lang",
    )
    classes = docs.groupBy("source", "len_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("lang").cast("long").alias("l_div"),
    )
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("l_div").cast("long").alias("l_min"),
        F.sum((F.col("l_div") < L_DIVERSITY_MIN).cast("int"))
        .cast("long")
        .alias("classes_below_l"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("l_div") < L_DIVERSITY_MIN, F.col("n_rows")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("docs_below_l"),
    )


T_CLOSENESS_MAX = 0.2


def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li/Li/Venkatasubramanian 2007, public) — the
    distributional member of the k-anonymity / l-diversity trilogy:
    per equivalence class (source, n_chars//200) the variational
    distance 0.5 * sum |p_lang - q_lang| between the class's lang
    distribution and the corpus-wide one (the categorical EMD). Class
    probabilities are exact integer ratios; the per-class distance
    re-enters DECIMAL at 12dp summed over the pinned lang support.
    Reports class count, max t, and classes above T_CLOSENESS_MAX."""
    docs = load(spark, sf_dir, "documents").select(
        "source",
        F.expr("n_chars div 200").alias("len_b"),
        "lang",
    )
    global_d = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("gn")
    )
    gtot = docs.agg(F.count(F.lit(1)).cast("long").alias("gt"))
    cls = docs.groupBy("source", "len_b", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("cn")
    )
    ctot = cls.groupBy("source", "len_b").agg(
        F.sum("cn").cast("long").alias("ct")
    )
    # outer-join class counts onto the full lang support so absent
    # langs contribute |0 - q|
    support = ctot.crossJoin(F.broadcast(global_d)).crossJoin(
        F.broadcast(gtot)
    )
    j = support.join(cls, ["source", "len_b", "lang"], "left").select(
        "source",
        "len_b",
        F.round(
            F.abs(
                F.coalesce(F.col("cn"), F.lit(0)).cast("double")
                / F.col("ct").cast("double")
                - F.col("gn").cast("double") / F.col("gt").cast("double")
            ),
            12,
        )
        .cast("decimal(28,12)")
        .alias("term"),
    )
    per_cls = j.groupBy("source", "len_b").agg(
        F.round(F.sum("term").cast("double") / F.lit(2.0), 6).alias("t")
    )
    return per_cls.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.round(F.max("t"), 6).alias("t_max"),
        F.sum((F.col("t") > T_CLOSENESS_MAX).cast("int"))
        .cast("long")
        .alias("classes_above_t"),
    )


SELECTIVITY_PREDS = [
    ("lang_en__len_hi", "lang = 'en'", "n_chars > 500"),
    ("src0__len_lo", "source = 'src0'", "n_chars <= 300"),
    ("lang_de__src1", "lang = 'de'", "source = 'src1'"),
]


def selectivity_independence_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Optimizer-statistics audit: for pinned conjunctive predicate
    pairs, the INDEPENDENCE-ASSUMPTION selectivity estimate
    sel(a)*sel(b) vs the measured sel(a AND b) — the error every
    cost-based optimizer (Catalyst's stats included) silently makes on
    correlated columns. Exact integer counts; one conditional
    aggregate per pair. The q-error column (max of est/act, act/est)
    is the planner-literature metric."""
    docs = load(spark, sf_dir, "documents")
    out = None
    for name, pa, pb in SELECTIVITY_PREDS:
        row = docs.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr(pa).cast("int")).cast("long").alias("na"),
            F.sum(F.expr(pb).cast("int")).cast("long").alias("nb"),
            F.sum((F.expr(pa) & F.expr(pb)).cast("int"))
            .cast("long")
            .alias("nab"),
        )
        nd = F.col("n").cast("double")
        est = (
            F.col("na").cast("double")
            / nd
            * (F.col("nb").cast("double") / nd)
        )
        act = F.col("nab").cast("double") / nd
        qerr = F.when(act > 0, F.greatest(est / act, act / est)).otherwise(
            F.lit(None)
        )
        leg = row.select(
            F.lit(name).alias("pred"),
            "na",
            "nb",
            "nab",
            F.round(est, 6).alias("sel_independent"),
            F.round(act, 6).alias("sel_actual"),
            F.round(qerr, 6).alias("q_error"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("pred")


PSI_DECILES = 10


def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event stream's value distribution (the standard ML-monitoring
    drift score): bucket edges are the REFERENCE half's type-7 deciles
    (collected — a decile-count-bounded driver table, the centroid
    rule), both halves histogram against them, PSI = sum (p-q) *
    ln(p/q) with 12dp DECIMAL term re-entry and the 1e-6 zero-bucket
    floor the industry recipe uses. One scan per half after the
    midpoint aggregate."""
    ev = load(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.col("value").cast("double").alias("v"),
    )
    lohi = ev.agg(F.min("us"), F.max("us")).collect()[0]
    split = (int(lohi[0]) + int(lohi[1])) // 2
    ref = ev.filter(F.col("us") < split)
    cur = ev.filter(F.col("us") >= split)
    qs = [i / PSI_DECILES for i in range(1, PSI_DECILES)]
    edges = [
        float(x)
        for x in ref.agg(
            F.expr(
                "percentile(v, array("
                + ", ".join(f"{q!r}D" for q in qs)
                + "))"
            ).alias("e")
        ).collect()[0]["e"]
    ]

    def bucket(col):
        b = F.lit(0)
        for i, e in enumerate(edges):
            b = F.when(col > F.lit(e), F.lit(i + 1)).otherwise(b)
        return b

    def hist(df, label):
        return (
            df.select(bucket(F.col("v")).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).cast("long").alias(f"n_{label}"))
        )

    buckets = spark.range(PSI_DECILES).select(
        F.col("id").cast("int").alias("b")
    )
    h = (
        buckets.join(hist(ref, "ref"), "b", "left")
        .join(hist(cur, "cur"), "b", "left")
        .select(
            "b",
            F.coalesce("n_ref", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    tots = h.agg(
        F.sum("n_ref").cast("long").alias("tr"),
        F.sum("n_cur").cast("long").alias("tc"),
    )
    FLOOR = 1e-6
    jn = h.crossJoin(F.broadcast(tots))
    p = F.greatest(
        F.col("n_ref").cast("double") / F.col("tr").cast("double"),
        F.lit(FLOOR),
    )
    q = F.greatest(
        F.col("n_cur").cast("double") / F.col("tc").cast("double"),
        F.lit(FLOOR),
    )
    terms = jn.select(
        F.round((p - q) * F.log(p / q), 12)
        .cast("decimal(28,12)")
        .alias("term")
    )
    return terms.agg(
        F.lit(PSI_DECILES).cast("int").alias("n_buckets"),
        F.round(F.sum("term").cast("double"), 6).alias("psi"),
    )


def char_entropy_compression_bound(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-0 character-entropy compression bound per source: Shannon
    H over the character distribution gives the floor bytes/char any
    order-0 entropy coder can reach; the report is raw bytes, H
    (bits/char), bound bytes, and the best-case ratio — the quick
    read before spending on a heavier codec (char_trigram_entropy
    measures order-2 structure; this is its order-0 floor). Character
    histogram via one explode groupBy; entropy contributions re-enter
    DECIMAL at 12dp (the entropy-sum rule); the shared 1/ln2 literal
    converts nats to bits."""
    _INV_LN2 = 1.4426950408889634
    docs = load(spark, sf_dir, "documents").select("source", "text")
    chars = docs.select(
        "source",
        F.explode(F.split(F.col("text"), "")).alias("ch"),
    ).filter(F.length("ch") > 0)
    hist = chars.groupBy("source", "ch").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = hist.groupBy("source").agg(
        F.sum("c").cast("long").alias("n")
    )
    terms = hist.join(tot, "source").select(
        "source",
        F.round(
            -(F.col("c").cast("double") / F.col("n").cast("double"))
            * F.log(
                F.col("c").cast("double") / F.col("n").cast("double")
            )
            * F.lit(_INV_LN2),
            12,
        )
        .cast("decimal(28,12)")
        .alias("term"),
    )
    h = terms.groupBy("source").agg(
        F.sum("term").cast("double").alias("h_bits")
    )
    return (
        h.join(tot, "source")
        .select(
            "source",
            F.col("n").alias("raw_chars"),
            F.round("h_bits", 6).alias("entropy_bits_per_char"),
            F.ceil(
                F.col("h_bits") * F.col("n").cast("double") / F.lit(8.0)
            )
            .cast("long")
            .alias("bound_bytes"),
            F.round(F.col("h_bits") / F.lit(8.0), 6).alias(
                "best_ratio"
            ),
        )
        .orderBy("source")
    )


RR_FLIP_P = 0.25  # randomized-response flip probability


def randomized_response_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Randomized response (Warner 1965, public — the survey-privacy
    mechanism): each user's true bit (did they purchase?) flips with
    pinned probability RR_FLIP_P via an md5-uniform draw; the released
    proportion is debiased by the unbiased corrector
    pi = (p_obs - p) / (1 - 2p). The audit publishes the true rate,
    the observed randomized rate, and the estimate — all exact integer
    counts until three fixed IEEE ops. Deterministic draws make the
    mechanism's ARITHMETIC gateable (real deployments use true
    randomness; the estimator is what is under test)."""
    ev = load(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("truth")
    )
    u = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit(":rr"))
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1 << 20),
    ).cast("double") / F.lit(float(1 << 20))
    flipped = per.select(
        "truth",
        F.when(u < F.lit(RR_FLIP_P), 1 - F.col("truth"))
        .otherwise(F.col("truth"))
        .alias("released"),
    )
    agg = flipped.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("truth").cast("long").alias("n_true"),
        F.sum("released").cast("long").alias("n_released"),
    )
    p_obs = F.col("n_released").cast("double") / F.col("n_users").cast(
        "double"
    )
    est = (p_obs - F.lit(RR_FLIP_P)) / F.lit(1.0 - 2.0 * RR_FLIP_P)
    return agg.select(
        "n_users",
        F.round(
            F.col("n_true").cast("double")
            / F.col("n_users").cast("double"),
            6,
        ).alias("true_rate"),
        F.round(p_obs, 6).alias("observed_rate"),
        F.round(est, 6).alias("estimated_rate"),
    )


GT_MAX_R = 10


def good_turing_counts(
    spark: SparkSession, sf_dir: str, max_r: int = GT_MAX_R
) -> DataFrame:
    """Good-Turing frequency re-estimation table (the smoothing
    classic; Gale & Sampson 1995, public): from the corpus
    frequency-of-frequencies N_r, the adjusted count r* =
    (r+1) * N_{r+1} / N_r for r <= GT_MAX_R — the table every
    closed-vocabulary LM smoother starts from (unigram_logprob pins
    Laplace; this publishes the GT alternative's inputs). All exact
    integers until the final ratio; the N_{r+1} lookup is one lead()
    over the r-ordered, gap-filled ladder."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    cf = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    nr = cf.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    ladder = spark.range(1, max_r + 2).select(
        F.col("id").cast("long").alias("r")
    )
    filled = ladder.join(nr, "r", "left").select(
        "r", F.coalesce("n_r", F.lit(0)).cast("long").alias("n_r")
    )
    w = Window.orderBy("r")
    out = filled.select(
        "r",
        "n_r",
        F.lead("n_r").over(w).alias("n_r1"),
    ).filter(F.col("r") <= max_r)
    return out.select(
        "r",
        "n_r",
        F.coalesce("n_r1", F.lit(0)).cast("long").alias("n_r_plus_1"),
        F.round(
            F.when(
                F.col("n_r") > 0,
                (F.col("r") + 1).cast("double")
                * F.coalesce("n_r1", F.lit(0)).cast("double")
                / F.col("n_r").cast("double"),
            ),
            6,
        ).alias("r_star"),
    ).orderBy("r")


def simpson_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson diversity of the token distribution per source:
    lambda = sum p_i^2 (the vocabulary HHI; 1/lambda = effective
    vocabulary size) — the concentration read beside lexical_diversity
    (TTR) and hapax_report. p_i are exact integer ratios; squared
    shares re-enter DECIMAL at 12dp (the HHI rule)."""
    docs = load(spark, sf_dir, "documents")
    tf = docs.select(
        "source", F.explode(tokenize_col("text")).alias("term")
    ).groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = tf.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    terms = tf.join(tot, "source").select(
        "source",
        F.round(
            (F.col("c").cast("double") / F.col("n").cast("double"))
            * (F.col("c").cast("double") / F.col("n").cast("double")),
            12,
        )
        .cast("decimal(28,12)")
        .alias("sq"),
    )
    lam = terms.groupBy("source").agg(
        F.sum("sq").cast("double").alias("lam")
    )
    return (
        lam.join(tot, "source")
        .select(
            "source",
            F.col("n").alias("n_tokens"),
            F.round("lam", 6).alias("simpson_lambda"),
            F.round(F.lit(1.0) / F.col("lam"), 6).alias(
                "effective_vocab"
            ),
        )
        .orderBy("source")
    )


def vocab_edit1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-hygiene report: vocabulary term pairs within
    Levenshtein distance 2 (typo/variant candidates a fuzzy-matcher or
    spell-corrector wants precomputed — the gate vocabulary has no
    distance-1 pairs, so the threshold matches FuzzyQuery's default
    maxEdits=2), oriented a < b, with the distance and both corpus
    frequencies. The self-join is vocabulary-sized (never
    corpus-sized); both engines' levenshtein() agree exactly (the
    prefix-blocked-verify precedent)."""
    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    a = vocab.select(
        F.col("term").alias("ta"), F.col("cf").alias("cf_a")
    )
    b = vocab.select(
        F.col("term").alias("tb"), F.col("cf").alias("cf_b")
    )
    pairs = (
        a.join(b, F.col("ta") < F.col("tb"))
        .filter(F.levenshtein("ta", "tb") <= 2)
        .select(
            "ta",
            "tb",
            F.levenshtein("ta", "tb").cast("int").alias("dist"),
            "cf_a",
            "cf_b",
        )
    )
    return pairs.orderBy("ta", "tb")


PADDING_BATCH = 32


def padding_waste_audit(
    spark: SparkSession, sf_dir: str, batch: int = PADDING_BATCH
) -> DataFrame:
    """Inference-serving padding-waste audit: documents batch in groups
    of PADDING_BATCH (ntile over the total order) under (a) arrival
    order and (b) token-length-sorted order; every sequence in a batch
    pads to the batch max, so waste = sum over batches of
    (batch_size * max_len - sum len). Length-sorted batching is the
    standard serving trick — this publishes exactly how many padded
    slots it reclaims. All integer; both batch orders are TOTAL (doc_id
    tie-breaks), so the batches come from `distributed_ntile` on a struct
    key — exact ntile without a single-partition window (VERDICT r5
    item 6); per-layout one batch-count-bounded aggregate."""
    from lucene_mapreduce_spark.operators.parity import distributed_ntile

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(tokenize_col("text")).cast("long").alias("dl"),
    )
    out = None
    for lname, okey in (
        ("arrival", F.struct(F.col("doc_id").alias("d"))),
        (
            "length_sorted",
            F.struct(F.col("dl").alias("l"), F.col("doc_id").alias("d")),
        ),
    ):
        n_docs = docs.count()  # scalar, same both layouts
        n_batches = (n_docs + batch - 1) // batch
        batched = distributed_ntile(
            docs.withColumn("_ord", okey), "_ord", int(n_batches), "b"
        ).select("b", "dl")
        per_b = batched.groupBy("b").agg(
            F.count(F.lit(1)).cast("long").alias("bn"),
            F.max("dl").cast("long").alias("mx"),
            F.sum("dl").cast("long").alias("tok"),
        )
        row = per_b.agg(
            F.count(F.lit(1)).cast("long").alias("n_batches"),
            F.sum("tok").cast("long").alias("real_tokens"),
            F.sum(F.col("bn") * F.col("mx") - F.col("tok"))
            .cast("long")
            .alias("padded_slots"),
        ).select(
            F.lit(lname).alias("layout"),
            "n_batches",
            "real_tokens",
            "padded_slots",
            F.round(
                F.col("padded_slots").cast("double")
                / (
                    F.col("real_tokens") + F.col("padded_slots")
                ).cast("double"),
                6,
            ).alias("waste_frac"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("layout")


def yules_k_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K per source (plus the corpus row) — the
    classic repeat-rate vocabulary-richness statistic beside
    lexical_diversity's TTR, hapax_report's tail fraction, and
    simpson_diversity's HHI: K = 1e4 * (sum cf^2 - N) / N^2 over the term
    frequency spectrum, which needs only the per-(source, term) counts
    already bounded by vocabulary size. Exact BIGINT sufficient stats;
    doubles only in the final expression."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokenize_col("text")).alias("term")
    )

    def k_rows(per: DataFrame, label_col) -> DataFrame:
        g = per.groupBy(label_col.alias("source")).agg(
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.sum("cf").cast("long").alias("n_tokens"),
            F.sum(F.col("cf") * F.col("cf")).cast("long").alias("s2"),
        )
        n = F.col("n_tokens").cast("double")
        return g.select(
            "source",
            "n_tokens",
            "vocab",
            F.round(
                F.lit(10000.0) * (F.col("s2").cast("double") - n) / (n * n), 6
            ).alias("yules_k"),
        )

    per_src = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("cf")
    )
    corpus = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cf")
    )
    return (
        k_rows(per_src, F.col("source"))
        .unionByName(k_rows(corpus, F.lit("(corpus)")))
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Batch 114: Fisher's exact 2x2 (exact integer binomials) + HITS authorities
# ---------------------------------------------------------------------------

# Exact C(n, r) as a BIGINT fold: after i steps the accumulator is
# C(n - m + i, i) (m = min(r, n-r)), an integer at every step, and
# acc * (n - m + i) is always divisible by i (m*C(m-1,i-1) = i*C(m,i)),
# so integer division is exact in BOTH engines.  Margins here are
# source-count-sized (~20), so everything fits in BIGINT with huge margin.
_BINOM_SPARK = (
    "(CASE WHEN {r} <= 0 OR {r} >= {n} THEN"
    " (CASE WHEN {r} = 0 OR {r} = {n} THEN 1L ELSE 0L END)"
    " ELSE aggregate(sequence(1, least({r}, {n} - {r})), 1L,"
    " (acc, i) -> acc * ({n} - least({r}, {n} - {r}) + i) div i) END)"
)


def fisher_exact_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test on a source-level 2x2 contingency table —
    the small-sample independence test beside chi2 (sig_terms_chi2,
    lang_source_independence) and the rest of the nonparametric family
    (kruskal_wallis_h, mcnemar_paired_days).  Rows are SOURCES (a
    bounded, scale-free unit): flag A = source vocabulary above the
    across-source mean, flag B = source mean doc length above the
    corpus mean, both decided by exact integer cross-multiplication
    (never a float division).  The hypergeometric two-sided p-value is
    computed from EXACT BIGINT binomial weights w(x) = C(r1,x)C(r2,k-x):
    p = sum of w over tables with w <= w(observed) divided by C(n,k)
    (Vandermonde: the enumerated weights sum to exactly C(n,k), which
    the test asserts).  Everything after the source rollup is a
    ~20-row computation — scale cost is one groupBy over the corpus."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.explode(tokenize_col("text")).alias("term")
    )
    per = toks.groupBy("source").agg(
        F.countDistinct("term").cast("long").alias("vocab"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.sum("vocab").cast("long").alias("tv"),
        F.sum("n_tokens").cast("long").alias("tt"),
        F.sum("n_docs").cast("long").alias("td"),
    )
    flags = per.crossJoin(F.broadcast(tot)).select(
        ((F.col("vocab") * F.col("s")) > F.col("tv")).alias("fa"),
        ((F.col("n_tokens") * F.col("td")) > (F.col("tt") * F.col("n_docs"))).alias(
            "fb"
        ),
    )
    cells = flags.agg(
        F.sum((F.col("fa") & F.col("fb")).cast("long")).alias("n_hh"),
        F.sum((F.col("fa") & ~F.col("fb")).cast("long")).alias("n_hl"),
        F.sum((~F.col("fa") & F.col("fb")).cast("long")).alias("n_lh"),
        F.sum((~F.col("fa") & ~F.col("fb")).cast("long")).alias("n_ll"),
    )
    m = cells.select(
        "n_hh",
        "n_hl",
        "n_lh",
        "n_ll",
        (F.col("n_hh") + F.col("n_hl")).alias("r1"),
        (F.col("n_lh") + F.col("n_ll")).alias("r2"),
        (F.col("n_hh") + F.col("n_lh")).alias("kk"),
        (F.col("n_hh") + F.col("n_hl") + F.col("n_lh") + F.col("n_ll")).alias("nn"),
    ).withColumn(
        "w_obs",
        F.expr(
            _BINOM_SPARK.format(n="r1", r="n_hh")
            + " * "
            + _BINOM_SPARK.format(n="r2", r="n_lh")
        ),
    )
    enum = m.withColumn(
        "x",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0).cast("long"), F.col("kk") - F.col("r2")),
                F.least(F.col("r1"), F.col("kk")),
            )
        ),
    ).withColumn(
        "w",
        F.expr(
            _BINOM_SPARK.format(n="r1", r="x")
            + " * "
            + _BINOM_SPARK.format(n="r2", r="(kk - x)")
        ),
    )
    return enum.groupBy("n_hh", "n_hl", "n_lh", "n_ll", "nn", "w_obs").agg(
        F.sum("w").cast("long").alias("w_total"),
        F.round(
            F.sum(F.when(F.col("w") <= F.col("w_obs"), F.col("w")).otherwise(0))
            .cast("double")
            / F.sum("w").cast("double"),
            9,
        ).alias("p_two_sided"),
        F.max(
            F.when(
                F.col("n_hl") * F.col("n_lh") > 0,
                F.round(
                    (F.col("n_hh") * F.col("n_ll")).cast("double")
                    / (F.col("n_hl") * F.col("n_lh")).cast("double"),
                    6,
                ),
            )
        ).alias("odds_ratio"),
    ).select(
        "n_hh",
        "n_hl",
        "n_lh",
        "n_ll",
        F.col("nn").alias("n_total"),
        "w_total",
        "p_two_sided",
        "odds_ratio",
    )


HITS_ITERS = 3
HITS_TOP_K = 10


def hits_authority_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs/authorities), 3 unrolled iterations over the
    doc->term bipartite graph — the OTHER classic eigenvector ranking
    beside part_pagerank_3iter: auth(t) = sum of hub(d) over docs
    containing t; hub(d) = sum of auth(t) over the doc's terms;
    max-normalized each half-step.  Determinism is the PageRank recipe:
    every score re-enters each half-iteration as round(x/max, 12)::
    DECIMAL(28,12), so the sums are order-free exact and the single
    division per half-step is IEEE-correctly-rounded from identical
    operands in both engines.  Scale: the term side is vocab-bounded
    (broadcast), the doc side is one groupBy per iteration; the rank
    vector never leaves the cluster."""
    docs = load(spark, sf_dir, "documents")
    edges = docs.select(
        "doc_id", F.explode(tokenize_col("text")).alias("term")
    ).distinct()
    hub = (
        edges.select("doc_id")
        .distinct()
        .select("doc_id", F.lit("1.000000000000").cast("decimal(28,12)").alias("h"))
    )
    auth = None
    for _ in range(HITS_ITERS):
        araw = edges.join(hub, "doc_id").groupBy("term").agg(F.sum("h").alias("ar"))
        amax = araw.agg(F.max("ar").alias("am"))
        auth = araw.crossJoin(F.broadcast(amax)).select(
            "term",
            F.round(F.col("ar").cast("double") / F.col("am").cast("double"), 12)
            .cast("decimal(28,12)")
            .alias("a"),
        )
        hraw = (
            edges.join(F.broadcast(auth), "term")
            .groupBy("doc_id")
            .agg(F.sum("a").alias("hr"))
        )
        hmax = hraw.agg(F.max("hr").alias("hm"))
        hub = hraw.crossJoin(F.broadcast(hmax)).select(
            "doc_id",
            F.round(F.col("hr").cast("double") / F.col("hm").cast("double"), 12)
            .cast("decimal(28,12)")
            .alias("h"),
        )
    from pyspark.sql import Window

    out = auth.select("term", F.col("a").cast("double").alias("auth_score"))
    w = Window.orderBy(F.col("auth_score").desc(), F.col("term").asc())
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= HITS_TOP_K)
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Batch 115: Kneser-Ney bigram LM, Gunning fog, MATTR lexical diversity
# ---------------------------------------------------------------------------

KN_DISCOUNT = 0.75  # the canonical absolute-discount value (Chen & Goodman)
KN_SENTENCE = "slow join fast scan dup merge the row"


def kneser_ney_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities for a pinned test
    sentence — the smoothing KenLM actually ships, beside the
    Laplace-smoothed bigram_logprob and good_turing_counts:
    p(w2|w1) = max(c(w1,w2) - d, 0)/c(w1·) + (d·N1+(w1,·)/c(w1·)) ·
    N1+(·,w2)/T, with d = 0.75 pinned, c(w1·) the LEFT-CONTEXT total
    (sum of bigram counts, not the unigram count), N1+ the forward /
    backward continuation-type counts, and T the distinct bigram-type
    total.  The sentence includes the planted rare token 'dup' so at
    least one bigram exercises the max(·,0)=0 pure-backoff path.  All
    stats are exact BIGINTs from two groupBys (vocab²-bounded, sparse);
    the probability chain is IEEE ops in one pinned order; ln at the
    end (correctly-rounded libm in both engines, house rule)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_col("text").alias("toks"))
    bi = toks.where(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("toks")),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i - F.lit(1)).alias("w1"),
                    F.element_at(F.col("toks"), i).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p_fwd"),
    )
    n1b = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1p_bwd"))
    t_types = c12.agg(F.count(F.lit(1)).cast("long").alias("t_types"))

    words = KN_SENTENCE.split()
    sent = spark.createDataFrame(
        [(i + 1, words[i], words[i + 1]) for i in range(len(words) - 1)],
        "pos INT, w1 STRING, w2 STRING",
    )
    j = (
        sent.join(F.broadcast(c12), ["w1", "w2"], "left")
        .join(F.broadcast(c1), "w1", "left")
        .join(F.broadcast(n1b), "w2", "left")
        .crossJoin(F.broadcast(t_types))
        .select(
            "pos",
            "w1",
            "w2",
            F.coalesce(F.col("c12"), F.lit(0)).cast("long").alias("c12"),
            F.coalesce(F.col("c1"), F.lit(0)).cast("long").alias("c1"),
            F.coalesce(F.col("n1p_fwd"), F.lit(0)).cast("long").alias("n1p_fwd"),
            F.coalesce(F.col("n1p_bwd"), F.lit(0)).cast("long").alias("n1p_bwd"),
            "t_types",
        )
    )
    pc = F.col("n1p_bwd").cast("double") / F.col("t_types").cast("double")
    pkn = F.when(F.col("c1") > 0,
        F.greatest(F.col("c12").cast("double") - F.lit(KN_DISCOUNT), F.lit(0.0))
        / F.col("c1").cast("double")
        + (F.lit(KN_DISCOUNT) * F.col("n1p_fwd").cast("double") / F.col("c1").cast("double"))
        * pc,
    ).otherwise(pc)
    return j.select(
        "pos",
        "w1",
        "w2",
        "c12",
        "c1",
        "n1p_fwd",
        "n1p_bwd",
        F.round(pkn, 9).alias("p_kn"),
        F.when(pkn > 0, F.round(F.log(pkn), 9)).alias("lp"),
    ).orderBy("pos")


def gunning_fog_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gunning fog readability per source (plus the corpus row) — the
    third readability gate beside flesch_reading_ease / coleman_liau /
    ari: fog = 0.4 * (words/sentences + 100 * complex_words/words),
    complex = 3+ syllable groups ([aeiouy]+ runs in the lowercased
    token, the flesch heuristic applied per token).  Sentences reuse
    flesch's greatest(1, [.!?]+ runs) guard (the synthetic corpus has
    no sentence punctuation).  All sufficient statistics are exact
    BIGINT sums; doubles only in the final pinned-order expression."""
    docs = load(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    per_doc = docs.select(
        "source",
        F.size(tokenize_col("text")).cast("long").alias("w"),
        F.greatest(
            F.lit(1).cast("long"),
            F.regexp_count(low, F.lit(r"[.!?]+")).cast("long"),
        ).alias("s"),
        F.size(
            F.filter(
                F.transform(
                    tokenize_col("text"),
                    lambda t: F.regexp_count(F.lower(t), F.lit(r"[aeiouy]+")),
                ),
                lambda n: n >= F.lit(3),
            )
        ).cast("long").alias("cx"),
    ).where(F.col("w") > 0)

    def fog_rows(g: DataFrame, label) -> DataFrame:
        agg = g.groupBy(label.alias("source")).agg(
            F.sum("w").cast("long").alias("n_words"),
            F.sum("s").cast("long").alias("n_sentences"),
            F.sum("cx").cast("long").alias("n_complex"),
        )
        ww = F.col("n_words").cast("double")
        return agg.select(
            "source",
            "n_words",
            "n_sentences",
            "n_complex",
            F.round(
                F.lit(0.4)
                * (
                    ww / F.col("n_sentences").cast("double")
                    + (F.lit(100.0) * F.col("n_complex").cast("double")) / ww
                ),
                6,
            ).alias("fog"),
        )

    return (
        fog_rows(per_doc, F.col("source"))
        .unionByName(fog_rows(per_doc, F.lit("(corpus)")))
        .orderBy("source")
    )


MATTR_WINDOW = 25


def mattr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR (moving-average type-token ratio, Covington & McFall 2010)
    per source — the window-stabilized lexical-diversity measure beside
    the length-biased plain TTR (lexical_diversity).  The naive form
    needs a distinct-count per sliding window; this uses the exact
    interval identity instead: token position j (with previous
    occurrence of the same term at p_j, -inf if none) counts as a
    distinct type exactly for window-ends i in [max(j, p_j + W),
    j + W - 1] (clipped to [W, dl]), so sum over windows of
    distinct-counts = sum over positions of clipped interval lengths —
    pure per-row arithmetic after one lag window, no per-window
    distinct, no window explosion at scale.  Per-doc MATTR =
    that sum / ((dl - W + 1) * W), rounded 12dp into DECIMAL for the
    order-free source mean."""
    from pyspark.sql import Window as W_

    w = MATTR_WINDOW
    docs = load(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        "source",
        F.size(tokenize_col("text")).cast("long").alias("dl"),
        F.posexplode(tokenize_col("text")).alias("p0", "term"),
    ).where(F.col("dl") >= w).select(
        "doc_id", "source", "dl", (F.col("p0") + 1).alias("j"), "term"
    )
    lagw = W_.partitionBy("doc_id", "term").orderBy("j")
    iv = pos.withColumn("pj", F.lag("j").over(lagw)).select(
        "doc_id",
        "source",
        "dl",
        F.greatest(
            F.lit(w).cast("long"),
            F.col("j"),
            F.coalesce(F.col("pj") + F.lit(w), F.lit(0).cast("long")),
        ).alias("lo"),
        F.least(F.col("dl"), F.col("j") + F.lit(w - 1)).alias("hi"),
    )
    per_doc = iv.groupBy("doc_id", "source", "dl").agg(
        F.sum(F.greatest(F.col("hi") - F.col("lo") + 1, F.lit(0).cast("long")))
        .cast("long")
        .alias("s_distinct")
    )
    mattr_doc = F.round(
        F.col("s_distinct").cast("double")
        / ((F.col("dl") - F.lit(w) + 1) * F.lit(w)).cast("double"),
        12,
    ).cast("decimal(28,12)")
    return (
        per_doc.select("source", mattr_doc.alias("md"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_windowed"),
            F.round(
                F.sum("md").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mattr"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Batch 118: hex-grid geo agg + per-column NDV sketch-error audit
# ---------------------------------------------------------------------------

HEX_SIZE_DEG = 2.5  # hex circumradius in projected degrees
_TWO_THIRDS = 2.0 / 3.0  # shared literals — same bits in both engines
_NEG_THIRD = -1.0 / 3.0
_SQRT3_INV = 0.5773502691896258  # 1/sqrt(3) to double precision, pinned


def geohex_grid_agg(
    spark: SparkSession, sf_dir: str, k: int = 10
) -> DataFrame:
    """ES `geohex_grid`-shaped hexagonal binning: axial hex coordinates
    from the equirectangular-projected md5 lat/lon (the shared synthetic
    geo field), flat-top hexes of circumradius HEX_SIZE_DEG, cube
    rounding to the nearest hex center, doc counts per cell, top-k
    cells.  True H3 uses an icosahedral projection; the axial grid is
    the deterministic stand-in with the same aggregation contract.
    Cube rounding is floor(v + 0.5) (never an engine round()) and the
    diff-comparison chain is identical IEEE ops in both engines; all
    constants are pinned Python literals.  One codegen projection +
    one combinable groupBy, geotile_grid_agg's plan shape."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    s = float(HEX_SIZE_DEG)
    pts = _geo_coords(load(spark, sf_dir, "documents"))
    x = F.col("lon")
    y = F.col("lat")
    qf = (F.lit(_TWO_THIRDS) * x) / F.lit(s)
    rf = ((F.lit(_NEG_THIRD) * x) + (F.lit(_SQRT3_INV) * y)) / F.lit(s)
    yf = -qf - rf
    fr = pts.select(
        qf.alias("qf"),
        rf.alias("rf"),
        yf.alias("yf"),
        F.floor(qf + F.lit(0.5)).alias("rx"),
        F.floor(yf + F.lit(0.5)).alias("ry"),
        F.floor(rf + F.lit(0.5)).alias("rz"),
    ).select(
        "rx",
        "ry",
        "rz",
        F.abs(F.col("rx").cast("double") - F.col("qf")).alias("dx"),
        F.abs(F.col("ry").cast("double") - F.col("yf")).alias("dy"),
        F.abs(F.col("rz").cast("double") - F.col("rf")).alias("dz"),
    )
    c1 = (F.col("dx") > F.col("dy")) & (F.col("dx") > F.col("dz"))
    c3 = ~c1 & ~(F.col("dy") > F.col("dz"))
    keyed = fr.select(
        F.concat_ws(
            ":",
            F.when(c1, -F.col("ry") - F.col("rz"))
            .otherwise(F.col("rx"))
            .cast("string"),
            F.when(c3, -F.col("rx") - F.col("ry"))
            .otherwise(F.col("rz"))
            .cast("string"),
        ).alias("hex")
    )
    counts = keyed.groupBy("hex").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return ranked_topk(counts, [F.desc("n_docs"), F.asc("hex")], k).select(
        "hex", "n_docs", "rank"
    )


NDV_AUDIT_COLUMNS = (
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
    ("documents", "source"),
)


def ndv_sketch_error_by_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column NDV (distinct-count) sketch-error audit — the
    CBO-statistics quality report an engine keeps for its column stats:
    for each pinned (table, column), the exact distinct count beside
    the HLL p=12 estimate (hll_cardinality's bit-exact register fold,
    salted per column so sketches are independent) and the relative
    error.  Each leg is one distinct + one 4096-register fold —
    column-count-bounded rows out, scan-bounded work in."""
    legs = []
    for table, col in NDV_AUDIT_COLUMNS:
        key = f"{table}.{col}"
        vals = (
            load(spark, sf_dir, table)
            .select(F.col(col).cast("string").alias("v"))
            .distinct()
        )
        h = _md5_52(F.concat(F.lit(f"{key}:"), F.col("v")))
        w = h.bitwiseAND(F.lit((1 << 40) - 1))
        rho = F.when(w == 0, F.lit(41)).otherwise(
            F.lit(40) - F.floor(F.log2(w.cast("double")))
        ).cast("int")
        regs = (
            vals.select(F.shiftright(h, 40).alias("bucket"), rho.alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("m_j"))
        )
        folded = regs.agg(
            F.count(F.lit(1)).cast("long").alias("used"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 41 - m_j)"))
            .cast("long")
            .alias("s_used"),
        )
        exact = vals.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        s_int = F.col("s_used") + (F.lit(_HLL_M) - F.col("used")) * F.lit(1 << 41)
        e_raw = F.lit(_HLL_ALPHA_NUM) / s_int.cast("double")
        v_empty = (F.lit(_HLL_M) - F.col("used")).cast("double")
        est = F.when(
            (e_raw <= F.lit(2.5 * _HLL_M)) & (v_empty > 0),
            F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v_empty),
        ).otherwise(e_raw)
        legs.append(
            folded.crossJoin(F.broadcast(exact)).select(
                F.lit(key).alias("column_name"),
                "n_exact",
                "used",
                F.round(est, 4).alias("hll_estimate"),
                F.round(
                    F.abs(est - F.col("n_exact").cast("double"))
                    / F.col("n_exact").cast("double"),
                    6,
                ).alias("rel_err"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("column_name")


# ---------------------------------------------------------------------------
# Batch 120: corpus-level BLEU-2 between source corpora
# ---------------------------------------------------------------------------


def corpus_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BLEU-2 between every ordered pair of sources,
    treating each candidate source's n-gram BAG against the reference
    source's bag (the corpus-overlap variant of BLEU used to compare
    corpus styles when no segment alignment exists — a cousin of
    kl_divergence_by_source that scores SURFACE overlap instead of
    distribution distance).  Modified precision p_n = sum_g
    min(cand_count, ref_count) / cand_total for n=1,2 — exact BIGINT
    clipped matches via one gram-keyed equi-join (gram types are
    vocab-bounded, never a pair blowup) — and the brevity penalty stays
    in log space (min(0, 1 - r/c)) so no cross-engine exp(); each ln
    is rounded 12dp before the final combine, the entropy-family rule.
    Pairs with a zero bigram match are dropped on both sides."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents").select(
        "source", tokenize_col("text").alias("toks")
    )
    uni = docs.select(
        "source", F.explode("toks").alias("gram")
    )
    bi = docs.filter(F.size("toks") >= 2).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat_ws(' ', slice(toks, i, 2)))"
            )
        ).alias("gram"),
    )
    legs = []
    for n, grams in ((1, uni), (2, bi)):
        cnt = grams.groupBy("source", "gram").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        tot = cnt.groupBy("source").agg(
            F.sum("c").cast("long").alias("tot")
        )
        ref = cnt.select(
            F.col("source").alias("ref_source"),
            "gram",
            F.col("c").alias("rc"),
        )
        match = (
            cnt.join(ref, "gram")
            .filter(F.col("source") != F.col("ref_source"))
            .groupBy(
                F.col("source").alias("cand_source"), "ref_source"
            )
            .agg(
                F.sum(F.least("c", "rc")).cast("long").alias(f"match{n}")
            )
        )
        legs.append(
            (
                match.join(
                    tot.select(
                        F.col("source").alias("cand_source"),
                        F.col("tot").alias(f"n{n}_cand"),
                    ),
                    "cand_source",
                ),
                tot,
            )
        )
    (m1, tot1), (m2, _) = legs
    ref_tot = tot1.select(
        F.col("source").alias("ref_source"), F.col("tot").alias("r_toks")
    )
    j = (
        m1.join(m2, ["cand_source", "ref_source"])
        .join(ref_tot, "ref_source")
        .filter((F.col("match1") > 0) & (F.col("match2") > 0))
    )
    p1 = F.col("match1").cast("double") / F.col("n1_cand").cast("double")
    p2 = F.col("match2").cast("double") / F.col("n2_cand").cast("double")
    log_bp = F.least(
        F.lit(0.0),
        F.lit(1.0)
        - F.col("r_toks").cast("double") / F.col("n1_cand").cast("double"),
    )
    return j.select(
        "cand_source",
        "ref_source",
        "n1_cand",
        "match1",
        "n2_cand",
        "match2",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(
            log_bp
            + F.lit(0.5) * (F.round(F.log(p1), 12) + F.round(F.log(p2), 12)),
            6,
        ).alias("log_bleu2"),
    ).orderBy("cand_source", "ref_source")


# ---------------------------------------------------------------------------
# Batch 122: block-max upper-bound tightness (the WAND skip-quality stat)
# ---------------------------------------------------------------------------

BLOCKMAX_B = 32  # postings per block, small enough for multi-block terms


def blockmax_tightness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-max tightness per df decade — the statistic that says how
    much Block-Max WAND (index/codec.py stores per-block max tf; the
    serving path prunes on it) actually beats plain WAND's global
    upper bound: postings of each term (doc_id order, BLOCKMAX_B per
    block) score each block by block_max_tf / global_max_tf.  A ratio
    near 1 everywhere means block maxima are as loose as the global
    bound (no extra skips); low-df terms are structurally tight, which
    is why the report buckets by EXACT integer df decade
    (length(df)-1, the log_merge_plan trick).  One tokenize scan, one
    (term, doc) groupBy, per-term windows, decade-bounded output."""
    from pyspark.sql import Window

    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokenize_col("text").alias("toks")
    )
    tf = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    wp = Window.partitionBy("term").orderBy("doc_id")
    blocks = (
        tf.select(
            "term",
            "tf",
            F.expr(
                f"(row_number() OVER (PARTITION BY term ORDER BY doc_id)"
                f" - 1) div {BLOCKMAX_B}"
            ).alias("blk"),
        )
        .groupBy("term", "blk")
        .agg(F.max("tf").alias("block_max"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.max("tf").alias("global_max"),
    )
    joined = blocks.join(stats, "term").select(
        (F.length(F.col("df").cast("string")) - 1)
        .cast("long")
        .alias("decade"),
        "term",
        F.round(
            F.col("block_max").cast("double")
            / F.col("global_max").cast("double"),
            6,
        )
        .cast("decimal(18,6)")
        .alias("ratio"),
        (F.col("block_max") == F.col("global_max"))
        .cast("int")
        .alias("tight"),
    )
    return (
        joined.groupBy("decade")
        .agg(
            F.countDistinct("term").cast("long").alias("n_terms"),
            F.count(F.lit(1)).cast("long").alias("n_blocks"),
            F.sum("tight").cast("long").alias("n_tight_blocks"),
            F.round(
                F.sum("ratio").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_tightness"),
        )
        .orderBy("decade")
    )


# ---------------------------------------------------------------------------
# Batch 125: corpus-linguistics keyness (log-likelihood keywords)
# ---------------------------------------------------------------------------

KEYNESS_SOURCE = "src0"
KEYNESS_K = 20


def keyness_loglik_terms(
    spark: SparkSession, sf_dir: str, source: str = KEYNESS_SOURCE,
    k: int = KEYNESS_K,
) -> DataFrame:
    """Rayson-Garside log-likelihood keyness: which terms distinguish
    one source's TOKEN distribution from the rest of the corpus — the
    corpus-linguistics G-test over occurrence counts, where the ES
    significant_terms family (sig_terms_*) works on document
    frequencies.  LL = 2(a ln(a/E1) + b ln(b/E2)) with expectations
    from the token margins, zero-count terms contributing their
    surviving half (0 ln 0 = 0), an integer cross-multiplication
    overuse flag, and the rounded-score rank rule.  One tokenize scan,
    one term groupBy, top-k out."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    toks = (
        load(spark, sf_dir, "documents")
        .select("source", F.explode(tokenize_col("text")).alias("term"))
    )
    per = toks.groupBy("term").agg(
        F.sum((F.col("source") == source).cast("long"))
        .cast("long")
        .alias("a"),
        F.sum((F.col("source") != source).cast("long"))
        .cast("long")
        .alias("b"),
    )
    tot = toks.agg(
        F.sum((F.col("source") == source).cast("long")).cast("long").alias("c"),
        F.sum((F.col("source") != source).cast("long")).cast("long").alias("d"),
    )
    j = per.crossJoin(F.broadcast(tot))
    cD = F.col("c").cast("double")
    dD = F.col("d").cast("double")
    ab = (F.col("a") + F.col("b")).cast("double")
    e1 = cD * ab / (cD + dD)
    e2 = dD * ab / (cD + dD)
    t1 = F.when(
        F.col("a") > 0,
        F.col("a").cast("double") * F.log(F.col("a").cast("double") / e1),
    ).otherwise(F.lit(0.0))
    t2 = F.when(
        F.col("b") > 0,
        F.col("b").cast("double") * F.log(F.col("b").cast("double") / e2),
    ).otherwise(F.lit(0.0))
    scored = j.select(
        "term",
        "a",
        "b",
        F.round(F.lit(2.0) * (t1 + t2), 6).alias("ll"),
        (
            F.col("a") * (F.col("c") + F.col("d"))
            > F.col("c") * (F.col("a") + F.col("b"))
        )
        .cast("int")
        .alias("overused"),
    )
    return ranked_topk(
        scored, [F.desc("ll"), F.asc("term")], k
    ).select(
        F.col("term"),
        F.col("a").alias("n_in_source"),
        F.col("b").alias("n_in_rest"),
        "ll",
        "overused",
        "rank",
    )


# ---------------------------------------------------------------------------
# Batch 127: Fleiss' kappa over deterministic quality raters
# ---------------------------------------------------------------------------

FLEISS_MIN_TOKS = 50
FLEISS_MIN_TTR = 0.5
FLEISS_MIN_MTL = 4.5


def fleiss_kappa_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over three deterministic binary quality 'raters'
    (token count >= 50, type-token ratio >= 0.5, mean token length >=
    4.5) — the inter-annotator-agreement statistic a curation team
    runs before trusting any single heuristic, with closed-form raters
    standing in for humans (cohens_kappa is the 2-rater member).  For
    n=3 raters the per-item agreement P_i has the exact integer form
    (k(k-1) + (3-k)(2-k))/6 with k = positive votes, so P-bar, the
    chance agreement p+^2 + p-^2 and kappa all come from BIGINT
    sufficient statistics in one scan."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents").select(
        tokenize_col("text").alias("toks")
    )
    n_t = F.size("toks").cast("long")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_t.cast("double")
    mtl = (
        F.aggregate(
            F.transform("toks", lambda x: F.length(x)),
            F.lit(0).cast("long"),
            lambda a, b: a + b.cast("long"),
        ).cast("double")
        / n_t.cast("double")
    )
    flags = docs.select(
        (n_t >= FLEISS_MIN_TOKS).cast("int").alias("r1"),
        (ttr >= FLEISS_MIN_TTR).cast("int").alias("r2"),
        (mtl >= FLEISS_MIN_MTL).cast("int").alias("r3"),
    )
    kpos = (F.col("r1") + F.col("r2") + F.col("r3")).cast("long")
    per = flags.select(
        "r1",
        "r2",
        "r3",
        (kpos * (kpos - 1) + (3 - kpos) * (2 - kpos)).alias("agree6"),
        kpos.alias("kpos"),
    )
    g = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("r1").cast("long").alias("n_pos_r1"),
        F.sum("r2").cast("long").alias("n_pos_r2"),
        F.sum("r3").cast("long").alias("n_pos_r3"),
        F.sum("agree6").cast("long").alias("s_agree6"),
        F.sum("kpos").cast("long").alias("s_pos"),
    )
    nD = F.col("n_docs").cast("double")
    pbar = F.col("s_agree6").cast("double") / (F.lit(6.0) * nD)
    ppos = F.col("s_pos").cast("double") / (F.lit(3.0) * nD)
    pe = ppos * ppos + (F.lit(1.0) - ppos) * (F.lit(1.0) - ppos)
    return g.select(
        "n_docs",
        "n_pos_r1",
        "n_pos_r2",
        "n_pos_r3",
        F.round(pbar, 6).alias("p_bar"),
        F.round(pe, 6).alias("p_e"),
        F.round((pbar - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Batch 128: Burrows' delta stylometry + skip-pointer benefit
# ---------------------------------------------------------------------------

BURROWS_K = 20


def burrows_delta_sources(
    spark: SparkSession, sf_dir: str, k: int = BURROWS_K
) -> DataFrame:
    """Burrows' delta between every source pair — the stylometric
    authorship distance (Burrows 2002): rates per mille of the top-k
    corpus words in each source are z-scored against the across-source
    mean/std, and delta(a,b) = mean |z_a - z_b| over the word panel.
    Rates and their squares ride 12dp DECIMAL sums so means and stds
    are order-free; the final per-pair mean is again a 12dp DECIMAL
    fold over the k-word panel.  Word panel and pair count are pinned
    constants — the heavy lifting is one tokenize scan and two
    vocabulary-bounded groupBys."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    toks = load(spark, sf_dir, "documents").select(
        "source", F.explode(tokenize_col("text")).alias("term")
    )
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("term"))
        .limit(k)
        .select("term")
    )
    tot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_toks")
    )
    cnt = (
        toks.join(F.broadcast(top), "term")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # complete (source x word) grid with zero rates
    grid = (
        tot.crossJoin(F.broadcast(top))
        .join(cnt, ["source", "term"], "left")
        .select(
            "source",
            "term",
            F.round(
                F.coalesce("c", F.lit(0)).cast("double")
                * F.lit(1000.0)
                / F.col("n_toks").cast("double"),
                12,
            )
            .cast("decimal(38,12)")
            .alias("r12"),
        )
    )
    stats = grid.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("r12").cast("double").alias("s"),
        F.sum(
            F.round(
                F.col("r12").cast("double") * F.col("r12").cast("double"), 12
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("ss"),
    )
    nsD = F.col("ns").cast("double")
    mean = F.col("s") / nsD
    std = F.sqrt((F.col("ss") - F.col("s") * mean) / (nsD - F.lit(1.0)))
    z = grid.join(F.broadcast(stats), "term").select(
        "source",
        "term",
        ((F.col("r12").cast("double") - mean) / std).alias("z"),
    )
    a = z.select(
        F.col("source").alias("source_a"), "term", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("source_b"), "term", F.col("z").alias("zb")
    )
    return (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.round(F.abs(F.col("za") - F.col("zb")), 12)
            .cast("decimal(38,12)")
            .alias("d12"),
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum("d12").cast("double") / F.lit(float(k)), 6
            ).alias("delta")
        )
        .orderBy("source_a", "source_b")
    )


SKIP_BLOCK_B = 32


def skip_pointer_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured skip-pointer benefit for conjunctive queries over the
    flagship terms: for each ordered pair (rarer term drives, denser
    term is probed), the number of the dense term's SKIP_BLOCK_B-doc
    posting blocks whose [min_doc, max_doc] span contains at least one
    driver doc — i.e. the blocks a skip-list actually decodes — beside
    the full decode cost.  The empirical twin of the block-max
    tightness report (that one bounds scores, this one bounds I/O);
    the range join is bounded by driver-df x dense-blocks for the
    pinned 4-term set."""
    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )
    from lucene_mapreduce_spark.operators.fulltext import FLAGSHIP_QUERY

    qts = sorted(set(tokenize_string(FLAGSHIP_QUERY)))
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokenize_col("text").alias("toks")
    )
    post = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(qts))
        .distinct()
    )
    dfs = post.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    blocks = (
        post.select(
            "term",
            "doc_id",
            F.expr(
                f"(row_number() OVER (PARTITION BY term ORDER BY doc_id)"
                f" - 1) div {SKIP_BLOCK_B}"
            ).alias("blk"),
        )
        .groupBy("term", "blk")
        .agg(
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
    )
    small = post.select(
        F.col("term").alias("t_small"), F.col("doc_id").alias("d")
    )
    big = blocks.select(
        F.col("term").alias("t_large"), "blk", "lo", "hi"
    )
    touched = (
        small.join(
            big,
            (F.col("t_small") != F.col("t_large"))
            & (F.col("d") >= F.col("lo"))
            & (F.col("d") <= F.col("hi")),
        )
        .select("t_small", "t_large", "blk")
        .distinct()
        .groupBy("t_small", "t_large")
        .agg(F.count(F.lit(1)).cast("long").alias("blocks_touched"))
    )
    nblk = blocks.groupBy(F.col("term").alias("t_large")).agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks")
    )
    dfl = dfs.select(
        F.col("term").alias("t_large"), F.col("df").alias("df_large")
    )
    dfsm = dfs.select(
        F.col("term").alias("t_small"), F.col("df").alias("df_small")
    )
    return (
        touched.join(F.broadcast(nblk), "t_large")
        .join(F.broadcast(dfl), "t_large")
        .join(F.broadcast(dfsm), "t_small")
        .filter(F.col("df_small") <= F.col("df_large"))
        .select(
            "t_small",
            "t_large",
            "df_small",
            "df_large",
            "n_blocks",
            "blocks_touched",
            F.round(
                F.lit(1.0)
                - F.col("blocks_touched").cast("double")
                * F.lit(float(SKIP_BLOCK_B))
                / F.col("df_large").cast("double"),
                6,
            ).alias("decode_saving"),
        )
        .orderBy("t_small", "t_large")
    )


# ---------------------------------------------------------------------------
# Batch 131: in-batch negative collisions + impact quantization
# ---------------------------------------------------------------------------

INBATCH_SIZES = (64, 256)


def inbatch_collision_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-batch negative collision audit for contrastive training: when
    documents are batched B at a time, how many SAME-SOURCE pairs land
    in one batch (those are poisoned negatives) under (a) arrival
    order (doc_id) and (b) an md5-shuffled order — the number that
    justifies shuffling before batch assembly.  Batches are ntile over
    the respective total order (exact), collision pairs are
    sum C(n_bs, 2) per (batch, source) — all BIGINT.  Two batch sizes,
    two orders, four rows."""
    from lucene_mapreduce_spark.operators.parity import distributed_ntile

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    n = docs.count()
    out = None
    # both orders are TOTAL (doc_id is unique and tie-breaks the md5 leg),
    # so the batches come from distributed_ntile on a struct key — exact
    # ntile without a single-partition window (VERDICT r5 item 6)
    orders = {
        "arrival": F.struct(F.col("doc_id").alias("d")),
        "shuffled": F.struct(
            _md5_52(F.col("doc_id").cast("string")).alias("h"),
            F.col("doc_id").alias("d"),
        ),
    }
    for b in INBATCH_SIZES:
        n_batches = max(1, n // b)
        for oname, okey in orders.items():
            keyed = docs.withColumn("_ord", okey)
            batched = distributed_ntile(
                keyed, "_ord", n_batches, "batch"
            ).select("batch", "source")
            cells = batched.groupBy("batch", "source").agg(
                F.count(F.lit(1)).cast("long").alias("c")
            )
            leg = cells.agg(
                F.sum(
                    ((F.col("c") * (F.col("c") - 1)) / 2).cast("long")
                )
                .cast("long")
                .alias("collision_pairs"),
                F.countDistinct("batch").cast("long").alias("n_batches"),
            ).select(
                F.lit(b).cast("long").alias("batch_size"),
                F.lit(oname).alias("order_mode"),
                "n_batches",
                "collision_pairs",
                F.round(
                    F.col("collision_pairs").cast("double")
                    / F.col("n_batches").cast("double"),
                    6,
                ).alias("pairs_per_batch"),
            )
            out = leg if out is None else out.unionByName(leg)
    return out.orderBy("batch_size", "order_mode")


IMPACT_LEVELS = 4


def impact_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact quantization audit per df decade — the Lucene 'impacts'
    story (quantize tf into 2^b buckets so WAND bounds stay tight with
    tiny metadata): per term, the distinct raw tf count beside the
    distinct bucket count at bucket = min(3, floor(log2(tf))) (exact
    integer via the digit-free bit-length compare chain) and the worst
    relative underestimate (tf - 2^bucket)/tf a scorer pays for using
    the bucket floor.  Decade-bucketed like blockmax_tightness_report
    — the two reports together price the block-skip machinery."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokenize_col("text").alias("toks")
    )
    tf = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    bucket = F.least(
        F.lit(3),
        F.when(F.col("tf") >= 8, 3)
        .when(F.col("tf") >= 4, 2)
        .when(F.col("tf") >= 2, 1)
        .otherwise(0),
    ).cast("long")
    # shiftleft's Column overload throws NOT_ITERABLE — closed CASE form
    qlow = (
        F.when(F.col("tf") >= 8, 8)
        .when(F.col("tf") >= 4, 4)
        .when(F.col("tf") >= 2, 2)
        .otherwise(1)
        .cast("long")
    )
    per_term = tf.select("term", "tf", bucket.alias("bk"), qlow.alias("ql")).groupBy(
        "term"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.countDistinct("tf").cast("long").alias("n_tf"),
        F.countDistinct("bk").cast("long").alias("n_buckets"),
        F.max(
            F.round(
                (F.col("tf") - F.col("ql")).cast("double")
                / F.col("tf").cast("double"),
                6,
            )
        ).alias("max_underest"),
    )
    decade = (F.length(F.col("df").cast("string")) - 1).cast("long")
    return (
        per_term.select(
            decade.alias("decade"),
            "n_tf",
            "n_buckets",
            F.col("max_underest").cast("decimal(18,6)").alias("mu"),
        )
        .groupBy("decade")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(
                F.sum("n_tf").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_distinct_tf"),
            F.round(
                F.sum("n_buckets").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_distinct_buckets"),
            F.round(
                F.sum("mu").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_max_underest"),
        )
        .orderBy("decade")
    )


# ---------------------------------------------------------------------------
# Batch 138: query segmentation + positional gap bytes
# ---------------------------------------------------------------------------

PMI_SEG_THRESHOLD = 1.0
PMI_SEG_MIN_COUNT = 5


def query_segmentation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query segmentation for the flagship query — should adjacent
    word pairs be quoted as phrases?  Corpus PMI per adjacent pair
    (ln of bigram probability over the unigram product, 12dp-rounded)
    with a minimum-evidence count, the decision a query rewriter makes
    before choosing between match and match_phrase clauses
    (multiword_synonym_query consumes exactly such pairs).  Unigram
    and bigram tables are the usual vocabulary-bounded groupBys; the
    pair frame is a 3-row literal."""
    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )
    from lucene_mapreduce_spark.operators.fulltext import FLAGSHIP_QUERY

    q = tokenize_string(FLAGSHIP_QUERY)
    pairs = spark.createDataFrame(
        [(i + 1, q[i], q[i + 1]) for i in range(len(q) - 1)],
        "pos int, w1 string, w2 string",
    )
    docs = load(spark, sf_dir, "documents").select(
        tokenize_col("text").alias("toks")
    )
    uni = docs.select(F.explode("toks").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    nu = docs.agg(F.sum(F.size("toks")).cast("long").alias("nu"))
    bi = (
        docs.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    nb = docs.agg(
        F.sum(F.greatest(F.size("toks") - 1, F.lit(0)))
        .cast("long")
        .alias("nb")
    )
    j = (
        pairs.join(
            F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))),
            "w1",
            "left",
        )
        .join(
            F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))),
            "w2",
            "left",
        )
        .join(F.broadcast(bi), ["w1", "w2"], "left")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "pos",
            "w1",
            "w2",
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("c2", F.lit(0)).alias("c2"),
            F.coalesce("c_ab", F.lit(0)).alias("c_ab"),
            "nu",
            "nb",
        )
    )
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") / F.col("nb").cast("double"))
            / (
                (F.col("c1").cast("double") / F.col("nu").cast("double"))
                * (F.col("c2").cast("double") / F.col("nu").cast("double"))
            )
        ),
        12,
    )
    return j.select(
        "pos",
        "w1",
        "w2",
        "c1",
        "c2",
        "c_ab",
        F.when(F.col("c_ab") > 0, F.round(pmi, 6)).alias("pmi"),
        (
            (F.col("c_ab") >= PMI_SEG_MIN_COUNT)
            & (F.when(F.col("c_ab") > 0, pmi).otherwise(F.lit(-999.0)) > PMI_SEG_THRESHOLD)
        )
        .cast("int")
        .alias("segment"),
    ).orderBy("pos")


def position_gap_bytes_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Positional-payload sizing per df decade — the positions-sidecar
    twin of posting_gap_histogram's docid accounting: per (term, doc)
    the delta-encoded position stream costs sum over gaps of the
    varbyte width 1 + [gap >= 128] + [gap >= 16384]; aggregated per
    exact df decade with bytes-per-position — the number that prices
    with_positions=True at 100 TB.  Positions come from one codegen
    filter over a sequence (the highlighter's occurrence expression);
    everything after is integer groupBys."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokenize_col("text").alias("toks")
    )
    occ = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks)),"
                " i -> struct(toks[i - 1] AS term, i AS pos))"
            )
        ).alias("o"),
    ).select("doc_id", "o.term", "o.pos")
    from pyspark.sql import Window

    w = Window.partitionBy("term", "doc_id").orderBy("pos")
    gaps = occ.select(
        "term",
        "doc_id",
        (F.col("pos") - F.coalesce(F.lag("pos").over(w), F.lit(0)))
        .cast("long")
        .alias("gap"),
    )
    bytes_ = (
        F.lit(1)
        + (F.col("gap") >= 128).cast("int")
        + (F.col("gap") >= 16384).cast("int")
    ).cast("long")
    per_term = gaps.select("term", "doc_id", bytes_.alias("b")).groupBy(
        "term"
    ).agg(
        F.countDistinct("doc_id").cast("long").alias("df"),
        F.count(F.lit(1)).cast("long").alias("n_positions"),
        F.sum("b").cast("long").alias("bytes_est"),
    )
    decade = (F.length(F.col("df").cast("string")) - 1).cast("long")
    return (
        per_term.select(
            decade.alias("decade"), "n_positions", "bytes_est"
        )
        .groupBy("decade")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("n_positions").cast("long").alias("total_positions"),
            F.sum("bytes_est").cast("long").alias("total_bytes"),
            F.round(
                F.sum("bytes_est").cast("double")
                / F.sum("n_positions").cast("double"),
                6,
            ).alias("bytes_per_position"),
        )
        .orderBy("decade")
    )


# ---------------------------------------------------------------------------
# Batch 140: UMass topic coherence + PFOR-vs-varbyte + sampled top-k
# ---------------------------------------------------------------------------

UMASS_K = 8
UMASS_SOURCE = "src0"


def umass_topic_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UMass topic coherence of the pinned 'topic' (the top-8 terms of
    one source by occurrence count — a stand-in for an LDA topic's
    head): C = sum over ordered pairs of ln((D(wi, wj) + 1) / D(wj)),
    the intrinsic coherence measure every topic-model eval reports
    (Mimno et al. 2011).  Doc-frequency and co-document counts are
    exact BIGINTs from one tokenize scan (the pair block is k^2
    literal-bounded); each ln rides the 12dp rule and the total is a
    DECIMAL sum carried on every pair row."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", tokenize_col("text").alias("toks")
    )
    topic = (
        docs.filter(F.col("source") == UMASS_SOURCE)
        .select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
        .orderBy(F.desc("cf"), F.asc("w"))
        .limit(UMASS_K)
        .select("w", "cf")
    )
    presence = (
        docs.select("doc_id", F.explode(F.array_distinct("toks")).alias("w"))
        .join(F.broadcast(topic.select("w")), "w")
    )
    dfreq = presence.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    a = presence.select(F.col("doc_id"), F.col("w").alias("wi"))
    b = presence.select(F.col("doc_id"), F.col("w").alias("wj"))
    codoc = (
        a.join(b, "doc_id")
        .filter(F.col("wi") != F.col("wj"))
        .groupBy("wi", "wj")
        .agg(F.count(F.lit(1)).cast("long").alias("d_ij"))
    )
    from pyspark.sql import Window

    ranked = topic.select(
        "w",
        "cf",
        F.row_number()
        .over(Window.orderBy(F.desc("cf"), F.asc("w")))
        .alias("r"),
    )
    pairs = (
        ranked.select(F.col("w").alias("wi"), F.col("r").alias("ri"))
        .join(
            ranked.select(F.col("w").alias("wj"), F.col("r").alias("rj")),
            F.col("ri") > F.col("rj"),
        )
        .join(codoc, ["wi", "wj"], "left")
        .join(
            F.broadcast(dfreq.select(F.col("w").alias("wj"), F.col("d").alias("dj"))),
            "wj",
        )
        .select(
            "ri",
            "rj",
            "wi",
            "wj",
            F.coalesce("d_ij", F.lit(0)).alias("d_ij"),
            "dj",
            F.round(
                F.log(
                    (F.coalesce("d_ij", F.lit(0)).cast("double") + F.lit(1.0))
                    / F.col("dj").cast("double")
                ),
                12,
            ).alias("contrib"),
        )
    )
    tot = pairs.agg(
        F.round(
            F.sum(F.col("contrib").cast("decimal(38,12)")).cast("double"), 6
        ).alias("coherence"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    return (
        pairs.crossJoin(F.broadcast(tot))
        .select(
            "wi",
            "wj",
            "d_ij",
            "dj",
            F.round("contrib", 6).alias("contrib"),
            "n_pairs",
            "coherence",
        )
        .orderBy("wi", "wj")
    )


PFOR_BLOCK = 128


def pfor_vs_varbyte_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-of-reference vs varbyte posting compression, priced on the
    real doc-gap stream (the codec decision behind index/codec.py's
    varbyte choice): per term the docid deltas, then (a) varbyte
    bytes = 1 + [gap >= 2^7] + [gap >= 2^14] + [gap >= 2^21] per gap
    and (b) bit-packed FOR blocks of PFOR_BLOCK gaps, each costing
    ceil(count * bits / 8) + 1 header with bits = bitlength of the
    block max (a closed CASE ladder — no log2()).  Totals per df
    decade with the bytes ratio — the sequel to delta_varint_audit
    and position_gap_bytes_estimate."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokenize_col("text").alias("toks")
    )
    post = (
        docs.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    gaps = post.select(
        "term",
        (
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(w), F.lit(-1))
        )
        .cast("long")
        .alias("gap"),
        F.expr(
            f"(row_number() OVER (PARTITION BY term ORDER BY doc_id) - 1)"
            f" div {PFOR_BLOCK}"
        ).alias("blk"),
    )
    bits = F.lit(1)
    for b in range(1, 40):
        bits = F.when(F.col("mx") >= (1 << b), b + 1).otherwise(bits)
    vb = (
        F.lit(1)
        + (F.col("gap") >= (1 << 7)).cast("int")
        + (F.col("gap") >= (1 << 14)).cast("int")
        + (F.col("gap") >= (1 << 21)).cast("int")
    ).cast("long")
    per_block = gaps.groupBy("term", "blk").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.max("gap").alias("mx"),
        F.sum(vb).cast("long").alias("vb_bytes"),
    )
    pfor_bytes = (
        F.expr("(cnt * bits + 7) div 8") + F.lit(1)
    ).cast("long")
    per_term = per_block.select(
        "term",
        "cnt",
        "vb_bytes",
        bits.cast("long").alias("bits"),
    ).select(
        "term",
        "cnt",
        "vb_bytes",
        pfor_bytes.alias("pfor_bytes"),
    ).groupBy("term").agg(
        F.sum("cnt").cast("long").alias("df"),
        F.sum("vb_bytes").cast("long").alias("vb"),
        F.sum("pfor_bytes").cast("long").alias("pf"),
    )
    decade = (F.length(F.col("df").cast("string")) - 1).cast("long")
    return (
        per_term.select(decade.alias("decade"), "df", "vb", "pf")
        .groupBy("decade")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("total_postings"),
            F.sum("vb").cast("long").alias("varbyte_bytes"),
            F.sum("pf").cast("long").alias("pfor_bytes"),
            F.round(
                F.sum("pf").cast("double") / F.sum("vb").cast("double"), 6
            ).alias("pfor_over_varbyte"),
        )
        .orderBy("decade")
    )


SAMPLE_TOPK_MOD = 8
SAMPLE_TOPK_K = 10


def sampled_topk_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-query-processing fidelity check: a 1/8 md5 row
    sample of events estimates the top-10 users by event count
    (estimate = 8x sample count); the report measures page overlap
    with the exact top-10 and the mean relative error of the scaled
    estimates ON the exact page — the accuracy story behind
    random_sampler_agg, sharpened to a ranking task.  Sampling is the
    engine-shared md5 draw; every count is BIGINT; errors ride 12dp
    DECIMAL sums."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    samp = (
        ev.filter(
            _md5_52(F.concat(F.lit("smp:"), F.col("event_id").cast("string")))
            % SAMPLE_TOPK_MOD
            == 0
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("sc"))
    )
    from pyspark.sql import Window

    we = Window.orderBy(F.col("c").desc(), F.col("user_id").asc())
    ws = Window.orderBy(F.col("sc").desc(), F.col("user_id").asc())
    top_exact = exact.withColumn("r", F.row_number().over(we)).filter(
        F.col("r") <= SAMPLE_TOPK_K
    )
    top_samp = samp.withColumn("r", F.row_number().over(ws)).filter(
        F.col("r") <= SAMPLE_TOPK_K
    )
    overlap = top_exact.join(
        top_samp.select("user_id"), "user_id"
    ).count()
    err = (
        top_exact.join(samp, "user_id", "left")
        .select(
            F.round(
                F.abs(
                    F.coalesce("sc", F.lit(0)).cast("double")
                    * F.lit(float(SAMPLE_TOPK_MOD))
                    - F.col("c").cast("double")
                )
                / F.col("c").cast("double"),
                12,
            )
            .cast("decimal(38,12)")
            .alias("e12")
        )
        .agg(
            F.round(
                F.sum("e12").cast("double") / F.lit(float(SAMPLE_TOPK_K)), 6
            ).alias("mean_rel_err")
        )
    )
    counts = ev.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    n_samp = samp.agg(F.sum("sc").cast("long").alias("n_sample"))
    return (
        counts.crossJoin(F.broadcast(n_samp))
        .crossJoin(F.broadcast(err))
        .select(
            "n_total",
            "n_sample",
            F.lit(overlap).cast("long").alias("overlap_at_10"),
            "mean_rel_err",
        )
    )


# ---------------------------------------------------------------------------
# Batch 142: quasi-identifier anonymity ladder
# ---------------------------------------------------------------------------

QI_LEN_BUCKET = 20  # tokens per length bucket in the widest QI set


def qi_ladder_kmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anonymity decay along a quasi-identifier ladder — how k-anonymity
    (k_anonymity_audit checks ONE QI set) erodes as columns accrete:
    for QI sets {lang}, {lang, source}, {lang, source, length-bucket}
    the report gives equivalence-class count, the minimum class size
    (the k in k-anonymous) and the share of singleton records — the
    re-identification-risk curve a release review walks.  All BIGINT
    class counts; the length bucket is an exact integer div."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents").select(
        "lang",
        "source",
        # positive ints: floor of float division == integer division
        F.floor(F.size(tokenize_col("text")) / QI_LEN_BUCKET)
        .cast("long")
        .alias("len_b"),
    )
    n = docs.count()
    ladders = (
        ("lang", ["lang"]),
        ("lang+source", ["lang", "source"]),
        ("lang+source+len", ["lang", "source", "len_b"]),
    )
    out = None
    for name, cols in ladders:
        classes = docs.groupBy(*cols).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        leg = classes.agg(
            F.lit(name).alias("qi_set"),
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("c").cast("long").alias("k_min"),
            F.round(
                F.sum((F.col("c") == 1).cast("int")).cast("double")
                / F.lit(float(n)),
                6,
            ).alias("singleton_share"),
        )
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("qi_set")


# ---------------------------------------------------------------------------
# Batch 153: Jensen-Shannon divergence, source vs rest
# ---------------------------------------------------------------------------


def jsd_source_vs_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen-Shannon divergence between the source's
    unigram distribution and the REST of the corpus — the bounded,
    symmetric twin of kl_divergence_by_source (KL needs the corpus
    support to cover the source; JSD is finite for any pair, the
    reason drift dashboards prefer it): JSD = (KL(P||M) + KL(Q||M))/2
    with M the even mixture.  The grid is vocab x sources (vocab-sized,
    never corpus-sized), zero-count cells contribute only on the side
    that owns mass, every contribution is one fixed IEEE chain on
    exact integer counts folded as 12dp DECIMAL.  Source-bounded
    output; also reports sqrt(JSD), the metric form."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokenize_col("text")).alias("term"))
    per = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot_s = per.groupBy("source").agg(F.sum("cnt").cast("long").alias("tot_s"))
    corpus = per.groupBy("term").agg(F.sum("cnt").cast("long").alias("cf"))
    tot = corpus.agg(F.sum("cf").cast("long").alias("tot"))
    grid = (
        tot_s.crossJoin(F.broadcast(corpus))
        .join(per, ["source", "term"], "left")
        .withColumn("cnt", F.coalesce(F.col("cnt"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    p = F.col("cnt").cast("double") / F.col("tot_s").cast("double")
    q = (F.col("cf") - F.col("cnt")).cast("double") / (
        F.col("tot") - F.col("tot_s")
    ).cast("double")
    m = (p + q) / F.lit(2.0)
    cp = F.when(
        F.col("cnt") > 0, F.round(p * F.log(p / m), 12)
    ).otherwise(F.lit(0.0)).cast("decimal(28,12)")
    cq = F.when(
        F.col("cf") > F.col("cnt"), F.round(q * F.log(q / m), 12)
    ).otherwise(F.lit(0.0)).cast("decimal(28,12)")
    j = grid.select("source", "tot_s", cp.alias("cp"), cq.alias("cq"))
    out = j.groupBy("source", "tot_s").agg(
        F.count(F.lit(1)).cast("long").alias("vocab_terms"),
        (
            (F.sum("cp").cast("double") + F.sum("cq").cast("double"))
            / F.lit(2.0)
        ).alias("jsd_raw"),
    )
    return out.select(
        "source",
        F.col("tot_s").alias("n_tokens"),
        "vocab_terms",
        F.round("jsd_raw", 6).alias("jsd_nats"),
        F.round(F.sqrt(F.col("jsd_raw")), 6).alias("jsd_distance"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Batch 156: fighting words, Witten-Bell perplexity
# ---------------------------------------------------------------------------

FIGHTING_WORDS_A0 = 500.0  # pinned Dirichlet prior strength
FIGHTING_WORDS_K = 10


def fighting_words_log_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monroe-Colaresi-Quinn 'fighting words' log-odds with an
    informative Dirichlet prior (2008, public) between the corpus's
    two largest sources — the keyness method that, unlike
    keyness_log_likelihood's G², shrinks rare-word noise with a
    background prior: alpha_w = cf_w * A0/T, delta_w = ln-odds
    difference of prior-smoothed rates, z = delta/sqrt(1/(y1+a) +
    1/(y2+a)).  The two groups are picked by (token count desc,
    source asc) rank; the compute grid is vocab-sized; the page is
    the top-K by (rounded |z| desc, term asc).  One corpus tokenize,
    three bounded joins."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokenize_col("text")).alias("term"))
    per = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    from pyspark.sql import Window

    tot_s = per.groupBy("source").agg(F.sum("cnt").cast("long").alias("tot_s"))
    w = Window.orderBy(F.desc("tot_s"), F.asc("source"))
    two = tot_s.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 2
    )
    corpus = per.groupBy("term").agg(F.sum("cnt").cast("long").alias("cf"))
    tot = corpus.agg(F.sum("cf").cast("long").alias("t"))
    g1 = two.filter(F.col("rk") == 1).select(
        F.col("source").alias("src1"), F.col("tot_s").alias("n1")
    )
    g2 = two.filter(F.col("rk") == 2).select(
        F.col("source").alias("src2"), F.col("tot_s").alias("n2")
    )
    grid = (
        corpus.crossJoin(F.broadcast(g1))
        .crossJoin(F.broadcast(g2))
        .crossJoin(F.broadcast(tot))
        .join(
            per.select(
                F.col("source").alias("src1"),
                "term",
                F.col("cnt").alias("y1"),
            ),
            ["src1", "term"],
            "left",
        )
        .join(
            per.select(
                F.col("source").alias("src2"),
                "term",
                F.col("cnt").alias("y2"),
            ),
            ["src2", "term"],
            "left",
        )
        .withColumn("y1", F.coalesce(F.col("y1"), F.lit(0)))
        .withColumn("y2", F.coalesce(F.col("y2"), F.lit(0)))
    )
    a = (
        F.col("cf").cast("double")
        * F.lit(FIGHTING_WORDS_A0)
        / F.col("t").cast("double")
    )
    a0 = F.lit(FIGHTING_WORDS_A0)
    y1 = F.col("y1").cast("double")
    y2 = F.col("y2").cast("double")
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    delta = F.log((y1 + a) / (n1 + a0 - y1 - a)) - F.log(
        (y2 + a) / (n2 + a0 - y2 - a)
    )
    z = delta / F.sqrt(F.lit(1.0) / (y1 + a) + F.lit(1.0) / (y2 + a))
    scored = grid.select(
        "term",
        "src1",
        "src2",
        F.col("y1").cast("long").alias("y1"),
        F.col("y2").cast("long").alias("y2"),
        F.round(delta, 6).alias("delta"),
        F.round(z, 6).alias("z"),
    )
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    return ranked_topk(
        scored,
        [F.desc(F.abs(F.col("z"))), F.asc("term")],
        FIGHTING_WORDS_K,
    ).select("rank", "term", "src1", "src2", "y1", "y2", "delta", "z")


def witten_bell_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-sample corpus perplexity under a Witten-Bell-smoothed bigram
    LM — the back-off family member bigram_logprob's Laplace model
    skips (WB's lambda comes from the follower-type count, the
    smoothing KenLM-era pipelines actually shipped): P(v|u) =
    (c(u,v) + T(u) * cf(v)/T) / (c(u) + T(u)) with T(u) = distinct
    followers of u and c(u) the corpus unigram count.  Per-bigram
    ln p rides exact integer counts weighted by the bigram's corpus
    frequency (count-then-expand: vocab²-bounded, never a per-token
    scan twice), folded as 12dp DECIMAL; perplexity = exp(-Σ/N).
    One row."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_col("text").alias("toks"))
    pairs = toks.where(F.size("toks") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(2), F.size("toks")),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i - F.lit(1)).alias("u"),
                    F.element_at(F.col("toks"), i).alias("v"),
                ),
            )
        ).alias("p")
    ).select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
    big = pairs.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    ctx = big.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("tu"),
    )
    uni = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    tot = uni.agg(F.sum("cf").cast("long").alias("t"))
    j = (
        big.join(ctx, "u")
        .join(uni.select(F.col("term").alias("u"), F.col("cf").alias("cu")), "u")
        .join(
            uni.select(F.col("term").alias("v"), F.col("cf").alias("cv")), "v"
        )
        .crossJoin(F.broadcast(tot))
    )
    p = (
        F.col("c12").cast("double")
        + F.col("tu").cast("double")
        * F.col("cv").cast("double")
        / F.col("t").cast("double")
    ) / (F.col("cu").cast("double") + F.col("tu").cast("double"))
    contrib = F.round(
        F.col("c12").cast("double") * F.log(p), 12
    ).cast("decimal(38,12)")
    agg = j.agg(
        F.sum("c12").cast("long").alias("n_bigrams"),
        F.count(F.lit(1)).cast("long").alias("distinct_bigrams"),
        F.sum(contrib).cast("double").alias("sll"),
    )
    nD = F.col("n_bigrams").cast("double")
    return agg.select(
        "n_bigrams",
        "distinct_bigrams",
        F.round(-F.col("sll") / nD, 6).alias("avg_neg_ll"),
        F.round(F.exp(-F.col("sll") / nD), 6).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# Batch 157: SMOG readability
# ---------------------------------------------------------------------------


def smog_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus SMOG grade (McLaughlin 1969, public) — the
    polysyllable-count member of the readability family beside
    flesch/ARI/Coleman-Liau: grade = 1.0430 sqrt(polysyllables *
    30/sentences) + 3.1291, with syllables approximated as vowel
    groups ([aeiou]+ runs, the standard heuristic) and sentences
    pinned to the document count (the synthetic corpus has no
    sentence punctuation — same convention flesch documents).
    Per-token syllable counts ride the corpus (term, count) table —
    count-then-expand, one regexp per TYPE not per token.  One row."""
    docs = load(spark, sf_dir, "documents")
    types = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    syl = types.select(
        "cnt",
        F.expr("regexp_count(term, '[aeiou]+')").cast("long").alias("sy"),
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    agg = syl.agg(
        F.sum("cnt").cast("long").alias("n_words"),
        F.sum(F.when(F.col("sy") >= 3, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_poly"),
    )
    j = agg.crossJoin(F.broadcast(nd))
    polyD = F.col("n_poly").cast("double")
    sD = F.col("n_docs").cast("double")
    return j.select(
        F.col("n_docs").alias("n_sentences"),
        "n_words",
        F.col("n_poly").alias("n_polysyllables"),
        F.round(
            polyD / F.col("n_words").cast("double"), 6
        ).alias("polysyllable_rate"),
        F.round(
            F.lit(1.0430) * F.sqrt(polyD * F.lit(30.0) / sD)
            + F.lit(3.1291),
            6,
        ).alias("smog_grade"),
    )


# ---------------------------------------------------------------------------
# Batch 169: ecological diversity panel
# ---------------------------------------------------------------------------


def ecological_diversity_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ecological diversity panel of each source's token distribution
    — Shannon H (12dp DECIMAL ln folds), Gini-Simpson 1 − Σp²
    (exact integer pair arithmetic: Σc(c−1)/(n(n−1)), the unbiased
    form), Berger-Parker dominance max p, and Pielou evenness
    H/ln(richness) — the community-structure vocabulary beside the
    lexical-diversity family's TTR/MATTR/Yule (public classics).
    Vocab-sized groupBys only; source-bounded rows."""
    docs = load(spark, sf_dir, "documents")
    per = (
        docs.select("source", F.explode(tokenize_col("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = per.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    j = per.join(tot, "source")
    p = F.col("c").cast("double") / F.col("n").cast("double")
    h12 = F.round(-p * F.log(p), 12).cast("decimal(28,12)")
    agg = j.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("long").alias("richness"),
        F.sum(h12).cast("double").alias("shannon_h"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("long").alias("pairs"),
        F.max("c").cast("long").alias("cmax"),
    )
    nD = F.col("n").cast("double")
    return agg.select(
        "source",
        F.col("n").alias("n_tokens"),
        "richness",
        F.round("shannon_h", 6).alias("shannon_h"),
        F.round(
            F.lit(1.0)
            - F.col("pairs").cast("double") / (nD * (nD - 1)),
            6,
        ).alias("gini_simpson"),
        F.round(F.col("cmax").cast("double") / nD, 6).alias(
            "berger_parker"
        ),
        F.round(
            F.col("shannon_h")
            / F.log(F.col("richness").cast("double")),
            6,
        ).alias("pielou_evenness"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Batch 174: negative-sampling table
# ---------------------------------------------------------------------------


def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2vec negative-sampling distribution — the unigram^0.75
    proposal (Mikolov et al. 2013, public) that damps head terms when
    drawing negatives: weight = cf^0.75 computed as
    sqrt(cf · sqrt(cf)) — a pure sqrt/multiply chain, correctly
    rounded IEEE in both engines where pow() is not — each weight
    rounded 6dp into DECIMAL sums for the normalizer, shares per
    term, plus each term's raw-frequency share for the damping
    comparison.  Vocab-bounded rows ordered by share."""
    docs = load(spark, sf_dir, "documents")
    cf = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    wgt = F.round(
        F.sqrt(
            F.col("cf").cast("double")
            * F.sqrt(F.col("cf").cast("double"))
        ),
        6,
    )
    scored = cf.select("term", "cf", wgt.alias("w"))
    tot = scored.agg(
        F.sum(F.col("w").cast("decimal(28,6)")).cast("double").alias("tw"),
        F.sum("cf").cast("long").alias("tc"),
    )
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "term",
            "cf",
            F.col("w").alias("weight"),
            F.round(F.col("w") / F.col("tw"), 6).alias("sample_share"),
            F.round(
                F.col("cf").cast("double") / F.col("tc").cast("double"), 6
            ).alias("raw_share"),
        )
        .orderBy(F.desc("sample_share"), F.asc("term"))
    )


GRIES_TOP_K = 10


def gries_dp_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' DP corpus-dispersion measure for the top-10 terms — the
    modern replacement for Juilland's D (Gries 2008, public): with
    sources as corpus parts, DP = ½ Σ_parts |observed share of the
    term's tokens in part − the part's share of the corpus|; 0 means
    perfectly even spread, 1 concentrated in one part.  All counts
    exact; the fold is parts-bounded per term.  Term rows by
    frequency."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokenize_col("text")).alias("term"))
    per = toks.groupBy("term", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cf = per.groupBy("term").agg(F.sum("c").cast("long").alias("cf"))
    psize = per.groupBy("source").agg(F.sum("c").cast("long").alias("ps"))
    tot = psize.agg(F.sum("ps").cast("long").alias("t"))
    from pyspark.sql import Window as _W

    top = (
        cf.withColumn(
            "rk",
            F.row_number().over(_W.orderBy(F.desc("cf"), F.asc("term"))),
        )
        .filter(F.col("rk") <= GRIES_TOP_K)
        .select("term", "cf", "rk")
    )
    grid = (
        top.crossJoin(F.broadcast(psize))
        .join(per, ["term", "source"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .crossJoin(F.broadcast(tot))
    )
    diff = F.abs(
        F.col("c").cast("double") / F.col("cf").cast("double")
        - F.col("ps").cast("double") / F.col("t").cast("double")
    )
    dp = (
        grid.select(
            "term",
            "cf",
            "rk",
            F.round(diff, 12).cast("decimal(38,12)").alias("d12"),
        )
        .groupBy("term", "cf", "rk")
        .agg((F.sum("d12").cast("double") / 2).alias("dp"))
    )
    return dp.select(
        F.col("rk").alias("rank"),
        "term",
        "cf",
        F.round("dp", 6).alias("gries_dp"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# Batch 180: Menzerath-Altmann law fit
# ---------------------------------------------------------------------------


def menzerath_altmann_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Menzerath-Altmann law fit — 'the longer the construct, the
    shorter its constituents' (public quantitative linguistics): OLS
    of ln(mean token length in chars) on ln(doc length in tokens)
    across documents; the law predicts a negative slope b in
    y = a x^b.  Per-doc means are exact integer ratios; both lns
    ride 12dp rounding with products 12dp-rounded into DECIMAL sums
    (the house OLS discipline).  One row with slope, intercept,
    and r²."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_col("text").alias("tk"))
    per = toks.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tok"),
        F.aggregate(
            F.transform(F.col("tk"), lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("chars"),
    ).filter(F.col("n_tok") > 0)
    pts = per.select(
        F.round(F.log(F.col("n_tok").cast("double")), 12).alias("u"),
        F.round(
            F.log(
                F.col("chars").cast("double")
                / F.col("n_tok").cast("double")
            ),
            12,
        ).alias("w"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("u").cast("decimal(38,12)")).alias("su"),
        F.sum(F.col("w").cast("decimal(38,12)")).alias("sw"),
        F.sum(
            F.round(F.col("u") * F.col("w"), 12).cast("decimal(38,12)")
        ).alias("suw"),
        F.sum(
            F.round(F.col("u") * F.col("u"), 12).cast("decimal(38,12)")
        ).alias("suu"),
        F.sum(
            F.round(F.col("w") * F.col("w"), 12).cast("decimal(38,12)")
        ).alias("sww"),
    )
    nD = F.col("n").cast("double")
    su = F.col("su").cast("double")
    sw = F.col("sw").cast("double")
    suw = F.col("suw").cast("double")
    suu = F.col("suu").cast("double")
    sww = F.col("sww").cast("double")
    num = nD * suw - su * sw
    dxx = nD * suu - su * su
    dyy = nD * sww - sw * sw
    b = num / dxx
    return s.select(
        F.col("n").alias("n_docs"),
        F.round(b, 6).alias("ma_slope_b"),
        F.round((sw - b * su) / nD, 6).alias("ln_a"),
        F.round(num * num / (dxx * dyy), 6).alias("r2"),
    )
