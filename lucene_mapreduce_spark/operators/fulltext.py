"""Full-text operators over the `documents` table (SURVEY.md §2.7, A8).

These are the corpus-stat / posting-table faces of the index engine exposed
as oracle-checkable queries: the same aggregations the segment build persists
(index/build.py), computed declaratively. The actual binary segment pipeline
lives in index/; these stay pure-DataFrame so DuckDB can replay them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_mapreduce_spark.operators.parity import load
from lucene_mapreduce_spark.query.bm25_df import (
    bm25_contrib_col,
    bm25_idf_col,
    bm25_scan_topk,
    canonical_sum,
    corpus_postings,
)

# Flagship query text (terms drawn from the documents vocabulary: mixed df).
FLAGSHIP_QUERY = "table scan fast merge"
SECOND_QUERY = "vector stream window"
BOOLEAN_QUERY = "table merge"
PHRASE_QUERY = "fast merge"


def term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — per-term document frequency + collection frequency.

    The reference gets df implicitly from Lucene (XdiReportReducer.java:355);
    our engine materializes it: explode+groupBy with map-side combine, one
    shuffle at distinct-(doc,term) granularity, then a term-level re-agg.
    """
    docs = load(spark, sf_dir, "documents")
    postings, _ = corpus_postings(docs)
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_t"),
        F.sum("tf").alias("cf_t"),
        F.max("tf").alias("max_tf"),
    )


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 — global corpus statistics (N, total tokens, avgdl) — the broadcast
    side of every BM25 evaluation."""
    docs = load(spark, sf_dir, "documents")
    _, doclens = corpus_postings(docs)
    return doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("dl").cast("long")).alias("total_tokens"),
        F.round(F.avg(F.col("dl").cast("double")), 6).alias("avgdl"),
    )


def doc_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2's logical content — the (doc, term, tf) posting relation, restricted
    to one term-hash bucket so the output stays small at any sf. The bucket
    is md5-derived (first hex digit) so DuckDB replays it bit-for-bit — the
    engine's own layout uses xxhash64 routing, but that hash has no DuckDB
    twin and belongs in the (pytest-covered) index path, not the gate row."""
    docs = load(spark, sf_dir, "documents")
    postings, _ = corpus_postings(docs)
    return postings.filter(F.substring(F.md5("term"), 1, 1) == "0")


def bm25_topk_documents(
    spark: SparkSession, sf_dir: str, query_text: str = FLAGSHIP_QUERY, k: int = 10
) -> DataFrame:
    """J1+W1+A8 — the flagship: top-k BM25 over documents for a fixed query.

    Scores rounded to 6dp for the cross-engine hash compare; the pytest
    rank-identity suite checks exact float64 against the pandas oracle.
    """
    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    out = bm25_scan_topk(docs, queries, k=k, round_to=6)
    return out.select("doc_id", "score", "rank")


# ---- index-backed gate entries: build real segments over the documents
# table (cached per sf_dir for the gate run) and answer through the actual
# engine, so the driver's correctness record covers posting encode/merge/
# query — not just the scan scorer.
_GATE_INDEXES: dict[str, str] = {}


def _gate_index(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.index.merge import merge_all

    path = _GATE_INDEXES.get(sf_dir)
    if path and load_manifest(path) is not None:
        return path
    path = os.path.join(tempfile.mkdtemp(prefix="lmr_gate_"), "ix")
    # lang/source ride as stored keyword fields (field-scoped clauses);
    # test fixtures may carry only a subset — store what exists
    raw = load(spark, sf_dir, "documents")
    docs = raw.select(
        "doc_id", "text",
        *[c for c in ("lang", "source", "n_chars") if c in raw.columns],
    )
    # two batches + a merge so the gate exercises the full lifecycle;
    # store_fields for docstore-verified phrases + lookups, with_positions
    # so the positional (.pos-style) phrase/near gates have the sidecar
    kw = [c for c in ("lang", "source", "n_chars") if c in docs.columns]
    build_segment(
        spark, docs.filter("doc_id % 2 = 0"), path, num_partitions=8,
        store_fields=True, with_positions=True, with_dict=True,
        index_fields=kw,
    )
    build_segment(
        spark, docs.filter("doc_id % 2 = 1"), path, store_fields=True,
        with_positions=True, with_dict=True, index_fields=kw,
    )
    merge_all(spark, path)
    _GATE_INDEXES[sf_dir] = path
    return path


def bm25_index_topk_documents(
    spark: SparkSession, sf_dir: str, query_text: str = FLAGSHIP_QUERY, k: int = 10
) -> DataFrame:
    """F2-F7 end-to-end: segment build + hierarchical merge + distributed
    index query; same oracle SQL as the scan path (they must agree)."""
    from lucene_mapreduce_spark.query.segments import bm25_index_topk

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    out = bm25_index_topk(spark, ix, queries, k=k, round_to=6)
    return out.select("doc_id", "score", "rank")


RANGE_LO, RANGE_HI = 100, 350  # the docid span for the scoped-search gate
MLT_SRC_DOC = 42  # the source document for the more-like-this gate


def more_like_this_documents(
    spark: SparkSession, sf_dir: str, src_doc: int = MLT_SRC_DOC, k: int = 10
) -> DataFrame:
    """Lucene MoreLikeThis parity over the gate index: docs most similar
    to src_doc via its top tf-idf terms (see query/segments.more_like_this).
    Oracle: the same term-extraction + BM25 spec in SQL."""
    from lucene_mapreduce_spark.query.segments import more_like_this

    ix = _gate_index(spark, sf_dir)
    out = more_like_this(spark, ix, src_doc, k=k, round_to=6)
    return out.select("doc_id", "score", "rank")


def bm25_range_topk_documents(
    spark: SparkSession, sf_dir: str, query_text: str = FLAGSHIP_QUERY, k: int = 10
) -> DataFrame:
    """Docid-range-scoped search: top-k BM25 over docs [RANGE_LO, RANGE_HI)
    only, with stats scoped to the range — every index read (postings and
    doclen rows) prunes to the range's chunk span. Oracle: the same BM25
    spec over the pre-filtered corpus."""
    from lucene_mapreduce_spark.query.segments import bm25_range_topk

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    out = bm25_range_topk(spark, ix, queries, RANGE_LO, RANGE_HI, k=k, round_to=6)
    return out.select("doc_id", "score", "rank")


SNIPPET_WIDTH = 3  # tokens of context either side of the first hit


def search_snippets(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
    width: int = SNIPPET_WIDTH,
) -> DataFrame:
    """Top-k BM25 plus a (2*width+1)-token snippet around the first query-
    term occurrence, read from the index's stored fields — the Lucene
    highlighter surface. The snippet join touches only the k result docs;
    tokenization/slicing is pure codegen (array_position/slice/array_join).
    """
    import os

    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )
    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir

    ix = _gate_index(spark, sf_dir)
    topk = bm25_index_topk_documents(spark, sf_dir, query_text, k)
    m = load_manifest(ix)
    assert m is not None and all(s.has_docstore for s in m.segments)
    stores = [
        os.path.join(segment_dir(ix, s.segment_id), "docstore")
        for s in m.ordered()
    ]
    assert len(stores) == 1, "snippets expect the merged gate index"

    qts = sorted(set(tokenize_string(query_text)))
    toks = tokenize_col(F.col("text"))
    absent = F.lit(1 << 30)
    pos = [
        F.when(F.array_position(toks, t) == 0, absent).otherwise(
            F.array_position(toks, t)
        )
        for t in qts
    ]
    first = F.least(*pos) if len(pos) > 1 else pos[0]
    start = F.greatest(F.lit(1), first - F.lit(width))
    snippet = F.array_join(F.slice(toks, start, 2 * width + 1), " ")
    docs = spark.read.parquet(stores[0]).select(
        "doc_id", snippet.alias("snippet")
    )
    return topk.join(docs, "doc_id").select("doc_id", "score", "rank", "snippet")


FUZZY_QUERY = "merg windoe"  # two misspellings; dist<=1 expands each

# Lucene BooleanQuery.maxClauseCount parity: multi-term rewrites never
# expand past this many clauses (the reference's QueryParser inherits the
# same default, XdiReportReducer.java:356). When a pattern matches more,
# the highest-df terms win — Lucene's TOP_TERMS scoring rewrite.
MAX_EXPANSIONS = 1024


def fuzzy_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FUZZY_QUERY,
    k: int = 10,
    max_dist: int = 1,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Lucene FuzzyQuery parity: each query token expands to the index
    dictionary terms within edit distance max_dist (levenshtein — built-in
    on both engines), and the expanded set is scored as a normal BM25
    query through the index path.

    The dictionary scan is a column-pruned read of the postings' `term`
    column (phash dirs < P, parquet reads only that column); the
    expansion join broadcasts the handful of query tokens. At 10^12 docs
    the dictionary is a side artifact (Lucene's terms index) — same plan,
    smaller input. Oracle: the same expansion + BM25 spec in SQL."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string

    ix = _gate_index(spark, sf_dir)
    vocab = _index_vocab(spark, ix)
    qdf = spark.createDataFrame(
        [(t,) for t in sorted(set(tokenize_string(query_text)))], "q string"
    )
    cands = (
        vocab.crossJoin(F.broadcast(qdf))
        .filter(F.levenshtein("term", "q") <= max_dist)
        .select("term", "df")
        .distinct()
    )
    return _score_expanded(spark, ix, _expand_capped(cands, max_expansions), k)


def _index_vocab(spark: SparkSession, ix: str) -> DataFrame:
    """Distinct dictionary terms with their document frequencies (term, df).
    Segments built with_dict=True read the term-sorted dictionary sidecar
    (index/build.write_dictionary — Lucene's terms index analogue, tiny vs
    the postings); otherwise df falls back to the term's posting-block
    count — decode-free, and rank-equivalent for TOP_TERMS truncation (a
    term's block count is monotone in its df at fixed chunk width)."""
    import os

    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir

    m = load_manifest(ix)
    assert m is not None
    vocab = None
    for s in m.ordered():
        seg = segment_dir(ix, s.segment_id)
        if s.has_dict:
            v = spark.read.parquet(os.path.join(seg, "dictionary")).select(
                "term", "df"
            )
        else:
            v = (
                spark.read.parquet(os.path.join(seg, "postings"))
                .filter(F.col("phash") < F.lit(m.num_partitions))
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"))
            )
        vocab = v if vocab is None else vocab.unionByName(v)
    return vocab.groupBy("term").agg(F.sum("df").cast("long").alias("df"))


def _expand_capped(cands: DataFrame, max_expansions: int) -> list[str]:
    """Bounded multi-term expansion: collect at most `max_expansions` terms
    from a (term, df) candidate frame, highest df first (TOP_TERMS rewrite
    — more selective truncation than Lucene's hard maxClauseCount error).
    The limit rides the plan (TakeOrderedAndProject), so a pathological
    pattern (`*`, regexp `.*`) ships the cap to the driver, never the
    vocabulary. Under the cap the result is the full match set — identical
    to an uncapped expansion."""
    head = cands.orderBy(F.desc("df"), F.asc("term")).limit(max_expansions).collect()
    return sorted(r["term"] for r in head)


def _score_expanded(
    spark: SparkSession, ix: str, matched: list[str], k: int
) -> DataFrame:
    """BM25 top-k over an expanded term set through the index path.

    Ranks on the ROUNDED score (+ doc_id): expansions carry up to 1024
    terms, so distinct docs can collide at 6dp while the engines'
    unrounded last-ulp order differs (canonical ascending sum here vs the
    oracle's plain sum) — the random_score_query rule, first seen
    flipping a term_range_query rank pair at sf1. The index path fetches
    a 2k page by exact score first, so any rounded tie crossing the cut
    is resolved identically on both sides (a tie spanning the whole 2k
    margin would need 6dp-equal scores across k extra docs)."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_index_topk

    if not matched:
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    queries = spark.createDataFrame(
        [("q0", " ".join(matched))], "query_id string, query_text string"
    )
    page = bm25_index_topk(spark, ix, queries, k=2 * k, round_to=6).select(
        "doc_id", "score"
    )
    return ranked_topk(page, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


PREFIX_QUERY = "s"  # expands to stream/small/sort/scan/slow/spark at gate


def prefix_query(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = PREFIX_QUERY,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Lucene PrefixQuery parity: all dictionary terms starting with the
    prefix, scored as one BM25 query through the index path. Same
    expansion plan as fuzzy_query with a startswith predicate (which a
    sorted term dictionary answers as a range seek at scale)."""
    ix = _gate_index(spark, sf_dir)
    cands = _index_vocab(spark, ix).filter(F.col("term").startswith(prefix))
    return _score_expanded(spark, ix, _expand_capped(cands, max_expansions), k)


WILDCARD_QUERY = "s?a*"  # ? = one char, * = any run -> scan/small/spark


def wildcard_to_regex(pattern: str) -> str:
    """Translate a Lucene wildcard pattern (`*` any run, `?` one char) to an
    anchored regex understood identically by Java regex (Spark rlike) and
    RE2 (DuckDB regexp_matches); every other char is escaped literal."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "^" + "".join(out) + "$"


def wildcard_query(
    spark: SparkSession,
    sf_dir: str,
    pattern: str = WILDCARD_QUERY,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Lucene WildcardQuery parity: the pattern expands against the term
    dictionary (Lucene walks the terms index with an automaton —
    WildcardQuery -> AutomatonQuery; here an anchored rlike over the
    dictionary sidecar, a tiny column-pruned read), then BM25 over the
    expansion through the index path like fuzzy/prefix."""
    ix = _gate_index(spark, sf_dir)
    rx = wildcard_to_regex(pattern)
    cands = _index_vocab(spark, ix).filter(F.col("term").rlike(rx))
    return _score_expanded(spark, ix, _expand_capped(cands, max_expansions), k)


REGEXP_QUERY = "(row|column|vector)s?"  # Lucene RegexpQuery is full-match


def regexp_query(
    spark: SparkSession,
    sf_dir: str,
    pattern: str = REGEXP_QUERY,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Lucene RegexpQuery parity: full-match regex over the term dictionary
    (Lucene compiles the regex to an automaton and intersects it with the
    terms index), BM25 over the matching terms. Anchoring ^...$ gives the
    same full-match semantics on both engines."""
    ix = _gate_index(spark, sf_dir)
    rx = "^" + pattern + "$"
    cands = _index_vocab(spark, ix).filter(F.col("term").rlike(rx))
    return _score_expanded(spark, ix, _expand_capped(cands, max_expansions), k)


TERM_RANGE = ("query", "sort")  # inclusive both ends, like TermRangeQuery


def term_range_query(
    spark: SparkSession,
    sf_dir: str,
    lo: str = TERM_RANGE[0],
    hi: str = TERM_RANGE[1],
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Lucene TermRangeQuery parity (includeLower/includeUpper=true):
    lexicographic [lo, hi] over the term dictionary — exactly the seek the
    sorted dictionary sidecar exists for — then BM25 over the expansion."""
    ix = _gate_index(spark, sf_dir)
    cands = _index_vocab(spark, ix).filter(
        (F.col("term") >= F.lit(lo)) & (F.col("term") <= F.lit(hi))
    )
    return _score_expanded(spark, ix, _expand_capped(cands, max_expansions), k)


SPELL_INPUT = "sor"  # -> sort (dist 1) then row/slow (dist 2, df ties)


def _dictionary_stats(spark: SparkSession, ix: str) -> DataFrame:
    """(term, df, cf) from the term-dictionary sidecar. MERGED-ONLY
    contract (asserted, like the positions/fields per-generation asserts):
    on an unmerged index a re-indexed doc's stale generation would still
    count toward df/cf (Lucene's docFreq-ignores-deletions behavior), which
    diverges from this repo's corpus-recomputed oracles — merge_all first.
    IndexSearcher's serving-side suggesters handle the unmerged case with
    the documented Lucene semantics."""
    import os

    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir

    m = load_manifest(ix)
    assert m is not None and all(s.has_dict for s in m.ordered())
    assert len(m.ordered()) == 1, (
        "dictionary df/cf stats require a merged index (merge_all): "
        "unmerged generations double-count shadowed docs"
    )
    s = m.ordered()[0]
    return spark.read.parquet(
        os.path.join(segment_dir(ix, s.segment_id), "dictionary")
    ).select("term", F.col("df").cast("long"), F.col("cf").cast("long"))


def spell_suggest(
    spark: SparkSession,
    sf_dir: str,
    word: str = SPELL_INPUT,
    max_dist: int = 2,
    k: int = 5,
) -> DataFrame:
    """Lucene SpellChecker (did-you-mean) parity: dictionary terms within
    edit distance `max_dist` of the input, ranked (distance asc, df desc,
    term asc) — more-frequent corrections win ties, exactly the
    spellchecker's popularity heuristic. Candidates come from the
    term-dictionary sidecar (df rides along, no postings touched)."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    ix = _gate_index(spark, sf_dir)
    dic = _dictionary_stats(spark, ix).select("term", "df")
    cands = dic.withColumn(
        "dist", F.levenshtein(F.col("term"), F.lit(word)).cast("int")
    ).filter(F.col("dist") <= max_dist)
    return ranked_topk(
        cands, [F.asc("dist"), F.desc("df"), F.asc("term")], k
    ).select("term", "dist", "df", "rank")


AUTOCOMPLETE_PREFIX = "s"


def autocomplete(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = AUTOCOMPLETE_PREFIX,
    k: int = 5,
) -> DataFrame:
    """Lucene suggest-module parity (prefix completion): dictionary terms
    starting with the prefix ranked by collection frequency desc (term
    asc ties) — the weight a suggester index carries. A sorted term
    dictionary answers the prefix scan as a range seek at scale."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    ix = _gate_index(spark, sf_dir)
    dic = _dictionary_stats(spark, ix).select("term", "cf")
    cands = dic.filter(F.col("term").startswith(prefix))
    return ranked_topk(
        cands, [F.desc("cf"), F.asc("term")], k
    ).select("term", "cf", "rank")


def index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-integrity check as a gate query: the manifest's segment-stat
    bookkeeping (n_docs, total_tokens — columnar sums maintained through
    build and merge, never recounted from the corpus) and the term
    dictionary cardinality must equal ground truth recomputed by the
    oracle from the raw documents table."""
    import os

    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir

    ix = _gate_index(spark, sf_dir)
    m = load_manifest(ix)
    assert m is not None
    n_docs = sum(s.n_docs for s in m.segments)
    total_tokens = sum(s.total_tokens for s in m.segments)
    postings = None
    for s in m.ordered():
        p = spark.read.parquet(
            os.path.join(segment_dir(ix, s.segment_id), "postings")
        ).filter(F.col("phash") < F.lit(m.num_partitions))
        postings = p if postings is None else postings.unionByName(p)
    return (
        postings.agg(F.countDistinct("term").alias("n_terms"))
        .select(
            F.lit(n_docs).cast("long").alias("n_docs"),
            F.lit(total_tokens).cast("long").alias("total_tokens"),
            F.col("n_terms").cast("long").alias("n_terms"),
        )
    )


PARSED_QUERY = '+table -vector "fast merge" scan query'


def parsed_query(
    spark: SparkSession, sf_dir: str, query: str = PARSED_QUERY, k: int = 10
) -> DataFrame:
    """The full QueryParser surface in one gate entry: MUST + MUST_NOT +
    phrase + SHOULD clauses parsed by query/parse.py and answered through
    the index cursors (IndexSearcher.search_parsed). Oracle: the same
    parse applied as SQL predicates + candidate-restricted BM25."""
    from decimal import ROUND_HALF_UP, Decimal

    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    hits = IndexSearcher(ix).search_parsed(query, k=k)

    def _round6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    rows = [(int(d), _round6(s), i + 1) for i, (d, s) in enumerate(hits)]
    return spark.createDataFrame(rows, "doc_id long, score double, rank int")


def _hits_df(spark: SparkSession, hits: list[tuple[int, float]]) -> DataFrame:
    """[(doc_id, score)] from a searcher -> (doc_id, score, rank) frame with
    the gate's HALF_UP 6dp rounding."""
    from decimal import ROUND_HALF_UP, Decimal

    def _round6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    rows = [(int(d), _round6(s), i + 1) for i, (d, s) in enumerate(hits)]
    return spark.createDataFrame(rows, "doc_id long, score double, rank int")


BOOSTED_QUERY = "table^3 merge scan^0.5"


def boosted_query(
    spark: SparkSession, sf_dir: str, query: str = BOOSTED_QUERY, k: int = 10
) -> DataFrame:
    """Lucene query-time boosts (Query#setBoost / BoostQuery): ``term^w``
    scales that term's BM25 contribution before accumulation. Answered on
    the serving path (search_parsed_ext); oracle: the BM25 spec with a
    per-term weight column."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    return _hits_df(spark, IndexSearcher(ix).search_parsed_ext(query, k=k))


MSM_QUERY = "merge scan window vector"
MSM_N = 2


def min_should_match_query(
    spark: SparkSession,
    sf_dir: str,
    query: str = MSM_QUERY,
    n: int = MSM_N,
    k: int = 10,
) -> DataFrame:
    """Lucene BooleanQuery.setMinimumNumberShouldMatch parity: candidates
    must match at least `n` of the SHOULD terms; scoring is unchanged
    BM25 over the matched terms."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    return _hits_df(
        spark, IndexSearcher(ix).search_parsed_ext(query, k=k, min_should_match=n)
    )


def _ext_score_terms(query: str) -> list[tuple[str, float]]:
    """(term, boost) scoring pairs from an extended-grammar query string —
    the same parse the serving path uses (query/parse.parse_query_ext)."""
    from lucene_mapreduce_spark.query.parse import parse_query_ext

    spec = parse_query_ext(query)
    terms = sorted(set(spec["must"]) | set(spec["should"]))
    return [(t, spec["boosts"].get(t, 1.0)) for t in terms]


def boosted_match_batch(
    spark: SparkSession, sf_dir: str, query: str = BOOSTED_QUERY, k: int = 10
) -> DataFrame:
    """The fully-distributed twin of boosted_query: weighted BM25 through
    query/segments.ext_score_topk — an offline boosted-query batch job
    never materializes hits on the driver. Same oracle as the serving
    gate (boosted_sql)."""
    from lucene_mapreduce_spark.query.segments import ext_score_topk

    ix = _gate_index(spark, sf_dir)
    return ext_score_topk(
        spark, ix, _ext_score_terms(query), min_match=1, k=k, round_to=6
    )


def msm_match_batch(
    spark: SparkSession,
    sf_dir: str,
    query: str = MSM_QUERY,
    n: int = MSM_N,
    k: int = 10,
) -> DataFrame:
    """The fully-distributed twin of min_should_match_query: candidates
    must match >= n distinct SHOULD terms (one map-side-combinable count
    at doc granularity), scored as unweighted BM25. Same oracle as the
    serving gate (msm_sql)."""
    from lucene_mapreduce_spark.query.segments import ext_score_topk

    ix = _gate_index(spark, sf_dir)
    return ext_score_topk(
        spark, ix, _ext_score_terms(query), min_match=n, k=k, round_to=6
    )


FIELD_QUERY = "+merge lang:en -source:src3 scan"


def field_scoped_query(
    spark: SparkSession, sf_dir: str, query: str = FIELD_QUERY, k: int = 10
) -> DataFrame:
    """Keyword-field clauses (Lucene TermQuery on untokenized fields):
    ``lang:en`` restricts candidates to docs whose stored lang field is
    exactly 'en', ``-source:src3`` excludes a source — both verified from
    the docstore columns (the engine stores keyword fields as columns,
    the analytical twin of Lucene doc values). Terms still score BM25."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    return _hits_df(spark, IndexSearcher(ix).search_parsed_ext(query, k=k))


def search_after_page(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    page_size: int = 10,
) -> DataFrame:
    """Lucene searchAfter parity: fetch page 1 through the serving path,
    then page 2 strictly after the last hit's (score, doc_id) cursor —
    ranks page_size+1 .. 2*page_size of the same oracle ranking. Exercises
    exact-cursor pagination (the cursor score is the exact float page 1
    returned)."""
    from decimal import ROUND_HALF_UP, Decimal

    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    s = IndexSearcher(ix)
    page1 = s.search(query_text, k=page_size)
    if len(page1) < page_size:
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    cursor = (page1[-1][1], page1[-1][0])
    page2 = s.search_after(query_text, cursor, k=page_size)

    def _round6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    rows = [
        (int(d), _round6(sc), page_size + i + 1) for i, (d, sc) in enumerate(page2)
    ]
    return spark.createDataFrame(rows, "doc_id long, score double, rank int")


def tfidf_topk(
    spark: SparkSession, sf_dir: str, query_text: str = FLAGSHIP_QUERY, k: int = 10
) -> DataFrame:
    """Pluggable similarity (Lucene's ClassicSimilarity, pre-BM25 default):
    score = sum over matched terms of sqrt(tf) * (1 + ln(N/(df+1)))^2 *
    (1/sqrt(dl)). Same index read path as BM25, different formula — the
    Similarity seam the reference inherits from Lucene. Canonical
    ascending-term accumulation keeps it float-exact vs the oracle."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.segments import exact_stats, read_postings

    ix = _gate_index(spark, sf_dir)
    terms = sorted(set(tokenize_string(query_text)))
    n_docs, _avgdl = exact_stats(spark, ix)
    postings = read_postings(spark, ix, terms)
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.lit(1.0) + F.log(F.lit(float(n_docs)) / (F.col("df_t") + F.lit(1.0)))
    contrib = (
        F.sqrt(F.col("tf").cast("double"))
        * idf * idf
        / F.sqrt(F.col("dl").cast("double"))
    )
    scored = postings.join(F.broadcast(df_t), "term").select(
        "doc_id", "term", contrib.alias("contrib")
    )
    per_doc = scored.groupBy("doc_id").agg(
        canonical_sum("contrib", "term").alias("score")
    )
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    return ranked_topk(
        per_doc, [F.desc("score"), F.asc("doc_id")], k
    ).select("doc_id", F.round("score", 6).alias("score"), "rank")


TERMS_ENUM_K = 15


def terms_enum(
    spark: SparkSession, sf_dir: str, k: int = TERMS_ENUM_K
) -> DataFrame:
    """Lucene TermsEnum / index-browsing parity: the top-k dictionary terms
    by (df desc, term asc) with their collection frequencies, read from the
    term-dictionary sidecar (never the postings payloads). Oracle recomputes
    df/cf from the raw corpus — so this also proves the sidecar's columnar
    df/cf sums stay exact through build + merge."""
    ix = _gate_index(spark, sf_dir)
    dic = _dictionary_stats(spark, ix)
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    return ranked_topk(
        dic, [F.desc("df"), F.asc("term")], k
    ).select("term", "df", "cf", "rank")


def search_facets(
    spark: SparkSession, sf_dir: str, query_text: str = BOOLEAN_QUERY
) -> DataFrame:
    """Lucene-faceting parity: facet the disjunctive (OR) result set by
    predicted language, with doc counts and the quality-score band
    (min/max of the per-doc rounded quality — exact, no float-sum
    nondeterminism). The facet dimensions ride existing codegen operators
    (language_id, quality_score); the hit set is computed DISTRIBUTED
    (boolean_match) so a web-scale result set never touches the driver,
    and AQE broadcasts it when small."""
    from lucene_mapreduce_spark.operators.textstats import (
        language_id,
        quality_score,
    )
    from lucene_mapreduce_spark.query.segments import boolean_match

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    lang = language_id(spark, sf_dir).select("doc_id", "pred_lang")
    qual = quality_score(spark, sf_dir).select("doc_id", "quality")
    return (
        lang.join(hits, "doc_id")
        .join(qual, "doc_id")
        .groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("quality").alias("min_quality"),
            F.max("quality").alias("max_quality"),
        )
    )


COLLAPSE_K = 5


def search_collapse(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = COLLAPSE_K,
) -> DataFrame:
    """Lucene collapse/grouping parity (CollapsingTopDocsCollector / the
    grouping module): one best-scoring hit per document-field group (the
    `lang` field), groups ranked by their best hit's score. Scores all
    hits through the UNRANKED exact index path (bm25_scores — canonical
    accumulation, no per-query global window), joins the collapse field,
    then a per-group row_number keeps the winner (score desc, doc_id asc
    — deterministic on 6dp-rounded scores). The only global sort is over
    the collapsed winners — cardinality = the group count, never the hit
    set."""
    from pyspark.sql import Window

    from lucene_mapreduce_spark.query.segments import bm25_scores

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    scored = bm25_scores(spark, ix, queries, round_to=6).select("doc_id", "score")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    w_grp = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    best = (
        scored.join(docs, "doc_id")
        .withColumn("rn", F.row_number().over(w_grp))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    w_all = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        best.withColumn("grp_rank", F.row_number().over(w_all))
        .filter(F.col("grp_rank") <= k)
        .select("lang", "doc_id", "score", "grp_rank")
    )


GROUP_TOP_N = 2
GROUP_TOP_GROUPS = 3


def search_grouped_topn(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    n: int = GROUP_TOP_N,
    k_groups: int = GROUP_TOP_GROUPS,
) -> DataFrame:
    """Lucene grouping-module TopGroups parity: the top-n hits inside each
    lang group, for the k_groups groups with the best leading hit.
    Per-group ranking is a WindowGroupLimit-pushed window (partitioned by
    group — parallel); group selection ranks only the group leaders."""
    from pyspark.sql import Window

    from lucene_mapreduce_spark.query.segments import bm25_scores

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    scored = bm25_scores(spark, ix, queries, round_to=6).select("doc_id", "score")
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    w_in = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    top_in = (
        scored.join(docs, "doc_id")
        .withColumn("pos", F.row_number().over(w_in))
        .filter(F.col("pos") <= n)
    )
    leaders = top_in.filter(F.col("pos") == 1).select(
        "lang", F.col("score").alias("lead_score"), F.col("doc_id").alias("lead_doc")
    )
    w_grp = Window.orderBy(F.desc("lead_score"), F.asc("lead_doc"))
    top_groups = (
        leaders.withColumn("grp_rank", F.row_number().over(w_grp))
        .filter(F.col("grp_rank") <= k_groups)
        .select("lang", "grp_rank")
    )
    return (
        top_in.join(F.broadcast(top_groups), "lang")
        .select("lang", "grp_rank", "pos", "doc_id", "score")
        .orderBy("grp_rank", "pos")
    )


def search_total_hits(
    spark: SparkSession, sf_dir: str, query_text: str = BOOLEAN_QUERY
) -> DataFrame:
    """Lucene TotalHitCountCollector parity: the hit count of the boolean
    query under both conjunctive (AND) and disjunctive (OR) semantics —
    counted from the posting cursors without materializing documents."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    s = IndexSearcher(ix)
    n_and = len(s.search_boolean(query_text, mode="and"))
    n_or = len(s.search_boolean(query_text, mode="or"))
    return spark.createDataFrame(
        [(n_and, n_or)], "n_and long, n_or long"
    )


def search_sort_by_field(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    k: int = 10,
) -> DataFrame:
    """Lucene Sort(SortField) parity: the conjunctive result set ordered by
    a document field instead of relevance (n_chars desc, doc_id asc as the
    tiebreak — Lucene's index-order tiebreak made explicit). The field
    values come from a hit join against the docs table (the hit set is
    computed DISTRIBUTED — boolean_match — so a web-scale conjunction
    never materializes on the driver); ranking is TakeOrderedAndProject,
    not a global window."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import boolean_match

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="and")
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return ranked_topk(
        docs.join(hits, "doc_id"), [F.desc("n_chars"), F.asc("doc_id")], k
    ).select("doc_id", "n_chars", "rank")


SIGTERMS_K = 15
SIGTERMS_MIN_DF = 3


def significant_terms(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    k: int = SIGTERMS_K,
    min_df: int = SIGTERMS_MIN_DF,
) -> DataFrame:
    """Significant-terms aggregation (Elasticsearch/Lucene search-analytics
    surface): terms overrepresented in the query's (OR) result set vs the
    whole corpus. Score = (df_fg/n_fg) / (df_bg/n_bg) — the foreground
    lift, 6dp-rounded; query terms excluded (they are trivially lifted);
    df_fg >= min_df filters noise. The hit set is computed DISTRIBUTED
    (boolean_match — no driver materialization of a web-scale result set);
    both df aggregations are map-side-combinable groupBys over one explode
    each; ranking is TakeOrderedAndProject over the filtered term stats."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_string
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import boolean_match

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    n_fg = hits.count()
    docs = load(spark, sf_dir, "documents")
    n_bg = docs.count()
    toks = docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
    bg = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df_bg"))
    fg = (
        toks.join(hits, "doc_id")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df_fg"))
    )
    qterms = set(tokenize_string(query_text))
    lifted = (
        fg.join(bg, "term")
        .filter(~F.col("term").isin(sorted(qterms)) & (F.col("df_fg") >= min_df))
        .withColumn(
            "lift",
            F.round(
                (F.col("df_fg") / F.lit(float(n_fg)))
                / (F.col("df_bg") / F.lit(float(n_bg))),
                6,
            ),
        )
    )
    return ranked_topk(
        lifted, [F.desc("lift"), F.asc("term")], k
    ).select(
        "term",
        F.col("df_fg").cast("long").alias("df_fg"),
        F.col("df_bg").cast("long").alias("df_bg"),
        "lift",
        "rank",
    )


NUM_RANGE = ("n_chars", 100.0, 300.0)


def numeric_range_query(
    spark: SparkSession,
    sf_dir: str,
    fld: str = NUM_RANGE[0],
    lo: float = NUM_RANGE[1],
    hi: float = NUM_RANGE[2],
) -> DataFrame:
    """Lucene PointRangeQuery parity with no text clause: docs whose
    indexed numeric field lies in [lo, hi], answered on the
    fully-distributed path (query/segments.field_range_match) from the
    num-sorted fields sidecar."""
    from lucene_mapreduce_spark.query.segments import field_range_match

    ix = _gate_index(spark, sf_dir)
    return field_range_match(spark, ix, fld, lo, hi)


RANGE_PARSED_QUERY = "+merge n_chars:[100 TO 300] lang:en scan"


def range_parsed_query(
    spark: SparkSession,
    sf_dir: str,
    query: str = RANGE_PARSED_QUERY,
    k: int = 10,
) -> DataFrame:
    """The full extended grammar in one serving-path gate: conjunctive
    term + numeric range clause + keyword field clause + scored SHOULD
    term, through search_parsed_ext (range and field clauses resolve from
    the indexed sidecars)."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    return _hits_df(spark, IndexSearcher(ix).search_parsed_ext(query, k=k))


def field_facets(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    fld: str = "lang",
) -> DataFrame:
    """Facet counts straight from the INDEX's keyword postings (Lucene
    facets over SortedSetDocValues — no document access at all): per-value
    doc counts of an indexed field over the disjunctive hit set. Both
    sides are index reads (boolean_match + field_values); the count is a
    map-side-combinable groupBy."""
    from lucene_mapreduce_spark.query.segments import boolean_match, field_values

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    vals = field_values(spark, ix, fld)
    return (
        vals.join(hits, "doc_id")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("value")
    )


PURE_FIELD = ("lang", "de")


def pure_field_query(
    spark: SparkSession,
    sf_dir: str,
    fld: str = PURE_FIELD[0],
    value: str = PURE_FIELD[1],
) -> DataFrame:
    """A query with NO text clause at all — exact keyword-field retrieval
    from the indexed-fields sidecar (Lucene StringField TermQuery),
    answered on the fully-distributed path (query/segments.field_match).
    The serving-path twin (IndexSearcher._field_hits) powers
    field_scoped_query's clauses and is unit-tested for identity."""
    from lucene_mapreduce_spark.query.segments import field_match

    ix = _gate_index(spark, sf_dir)
    return field_match(spark, ix, fld, value)


def search_sort_after_page(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    page_size: int = 10,
) -> DataFrame:
    """Lucene searchAfter with a FieldDoc cursor on a FIELD sort: page 2 of
    the n_chars-ordered conjunctive result, strictly after page 1's last
    (n_chars, doc_id). Exact-value cursor comparison (integers — no float
    subtlety); the after-filter pushes into the scan side of the hit join
    and the page is TakeOrderedAndProject, so deep pagination never
    re-sorts or re-ships earlier pages."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import boolean_match

    page1 = search_sort_by_field(spark, sf_dir, query_text, k=page_size).collect()
    if len(page1) < page_size:
        return spark.createDataFrame([], "doc_id long, n_chars long, rank int")
    c_n, c_d = page1[-1]["n_chars"], page1[-1]["doc_id"]
    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="and")
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    after = (F.col("n_chars") < F.lit(c_n)) | (
        (F.col("n_chars") == F.lit(c_n)) & (F.col("doc_id") > F.lit(c_d))
    )
    page2 = ranked_topk(
        docs.join(hits, "doc_id").filter(after),
        [F.desc("n_chars"), F.asc("doc_id")],
        page_size,
    )
    return page2.select(
        "doc_id", "n_chars", (F.col("rank") + F.lit(page_size)).alias("rank")
    )


def boolean_and_query(
    spark: SparkSession, sf_dir: str, query_text: str = BOOLEAN_QUERY
) -> DataFrame:
    """Exact conjunctive (AND) retrieval through the index's posting
    cursors — the reference QueryParser's boolean surface
    (XdiReportReducer.java:356). Oracle: docs whose token set contains
    every query term."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    docids = IndexSearcher(ix).search_boolean(query_text, mode="and")
    return spark.createDataFrame([(int(d),) for d in docids], "doc_id long")


def boolean_or_query(
    spark: SparkSession, sf_dir: str, query_text: str = BOOLEAN_QUERY
) -> DataFrame:
    """Exact disjunctive (OR) retrieval through the posting cursors —
    sorted-docid union, the SHOULD side of the reference QueryParser's
    boolean surface (XdiReportReducer.java:356). Oracle: docs whose token
    set contains any query term."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    docids = IndexSearcher(ix).search_boolean(query_text, mode="or")
    return spark.createDataFrame([(int(d),) for d in docids], "doc_id long")


def boolean_and_not_query(
    spark: SparkSession,
    sf_dir: str,
    include_text: str = "table",
    exclude_text: str = "merge",
) -> DataFrame:
    """MUST + MUST_NOT retrieval: conjunctive candidates minus the
    prohibited union, as sorted-array set difference over the cursors."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    docids = IndexSearcher(ix).search_and_not(include_text, exclude_text)
    return spark.createDataFrame([(int(d),) for d in docids], "doc_id long")


NEAR_WINDOW = 4


def near_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    window: int = NEAR_WINDOW,
) -> DataFrame:
    """Proximity retrieval through the index (Lucene SpanNear, unordered):
    docs where some `window`-token span contains all query terms, verified
    by re-tokenizing stored fields. Oracle: a sliding-window containment
    scan over the token arrays."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    docids = IndexSearcher(ix).search_near(query_text, window=window, use="stored")
    return spark.createDataFrame([(int(d),) for d in docids], "doc_id long")


def near_query_positions(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    window: int = NEAR_WINDOW,
) -> DataFrame:
    """The same proximity semantics answered from the positional sidecar
    (Lucene's .pos strategy) — no stored fields touched; must match the
    identical oracle as near_query."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    docids = IndexSearcher(ix).search_near(
        query_text, window=window, use="positions"
    )
    return spark.createDataFrame([(int(d),) for d in docids], "doc_id long")


def phrase_query(
    spark: SparkSession, sf_dir: str, phrase_text: str = PHRASE_QUERY
) -> DataFrame:
    """Exact phrase retrieval through the index: posting-cursor AND
    intersection narrows to candidates, stored fields verify token
    adjacency (Lucene-without-positions strategy; the reference's
    QueryParser accepts quoted phrases, XdiReportReducer.java:356).
    Oracle: docs whose token array contains the phrase contiguously."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    docids = IndexSearcher(ix).search_phrase(phrase_text, use="stored")
    return spark.createDataFrame([(int(d),) for d in docids], "doc_id long")


def boolean_match_batch(
    spark: SparkSession, sf_dir: str, query_text: str = BOOLEAN_QUERY
) -> DataFrame:
    """The fully-distributed conjunctive path (query/segments.boolean_match):
    per-doc distinct-term count over pruned posting reads — for
    whole-corpus boolean curation filters. Same oracle as the cursor-path
    boolean_and_query."""
    from lucene_mapreduce_spark.query.segments import boolean_match

    ix = _gate_index(spark, sf_dir)
    return boolean_match(spark, ix, query_text, mode="and")


def near_match_batch(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    window: int = NEAR_WINDOW,
) -> DataFrame:
    """The fully-distributed proximity path (query/segments.near_match):
    positional join chain + anchored window-containment expression. Same
    oracle as the serving-path near_query gates."""
    from lucene_mapreduce_spark.query.segments import near_match

    ix = _gate_index(spark, sf_dir)
    return near_match(spark, ix, query_text, window=window)


PHRASE_SLOP = 1


def phrase_slop_query(
    spark: SparkSession,
    sf_dir: str,
    phrase_text: str = PHRASE_QUERY,
    slop: int = PHRASE_SLOP,
) -> DataFrame:
    """Sloppy phrase retrieval (`"fast merge"~1` — QueryParser phrase
    slop): the terms in order with at most `slop` extra tokens between,
    verified from the positional sidecar (greedy nearest-next chaining).
    Oracle: an ordered sliding check over the token arrays."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    docids = IndexSearcher(ix).search_phrase_slop(phrase_text, slop=slop)
    return spark.createDataFrame([(int(d),) for d in docids], "doc_id long")


def phrase_match_batch(
    spark: SparkSession, sf_dir: str, phrase_text: str = PHRASE_QUERY
) -> DataFrame:
    """The fully-distributed phrase path (query/segments.phrase_match):
    position-list intersection as a chain of doc_id joins over the
    positional sidecar — for whole-corpus phrase workloads. Must match the
    identical oracle as the two serving-path phrase gates."""
    from lucene_mapreduce_spark.query.segments import phrase_match

    ix = _gate_index(spark, sf_dir)
    return phrase_match(spark, ix, phrase_text)


def slop_match_batch(
    spark: SparkSession,
    sf_dir: str,
    phrase_text: str = PHRASE_QUERY,
    slop: int = PHRASE_SLOP,
) -> DataFrame:
    """The fully-distributed sloppy-phrase path (query/segments.slop_match):
    greedy nearest-next chaining as a single codegen expression over joined
    position arrays — whole-corpus `"a b"~N` workloads with no driver-side
    candidate walk. Must match the identical oracle as phrase_slop_query."""
    from lucene_mapreduce_spark.query.segments import slop_match

    ix = _gate_index(spark, sf_dir)
    return slop_match(spark, ix, phrase_text, slop)


def phrase_query_positions(
    spark: SparkSession, sf_dir: str, phrase_text: str = PHRASE_QUERY
) -> DataFrame:
    """The same phrase semantics answered from the positional sidecar
    (successive position-list intersection, Lucene PhraseQuery over .pos)
    — no stored fields touched; must match the identical oracle as
    phrase_query."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    docids = IndexSearcher(ix).search_phrase(phrase_text, use="positions")
    return spark.createDataFrame([(int(d),) for d in docids], "doc_id long")


_GATE_INDEXES_UNMERGED: dict[str, str] = {}


def _gate_index_unmerged(spark: SparkSession, sf_dir: str) -> str:
    """A deliberately UNMERGED 2-generation index whose latest-wins state
    equals the documents table: batch 1 holds the even docs plus STALE text
    for the odd docs; batch 2 re-indexes the true odd docs, shadowing the
    stale copies. Serving it must mask the stale generation without a merge
    (the reference's between-merges reality, XdiReportReducer.java:248-285).
    """
    import os
    import tempfile

    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.manifest import load_manifest

    path = _GATE_INDEXES_UNMERGED.get(sf_dir)
    if path and load_manifest(path) is not None:
        return path
    path = os.path.join(tempfile.mkdtemp(prefix="lmr_gate_um_"), "ix")
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    stale_odd = docs.filter("doc_id % 2 = 1").withColumn(
        "text", F.concat(F.lit("stale shadowed "), F.col("text"))
    )
    build_segment(
        spark, docs.filter("doc_id % 2 = 0").unionByName(stale_odd), path,
        num_partitions=8,
    )
    build_segment(spark, docs.filter("doc_id % 2 = 1"), path)
    _GATE_INDEXES_UNMERGED[sf_dir] = path
    return path


def bm25_wand_topk_unmerged(
    spark: SparkSession, sf_dir: str, query_text: str = FLAGSHIP_QUERY, k: int = 10
) -> DataFrame:
    """Multi-generation serving: IndexSearcher.search over the UNMERGED
    2-generation gate index — stale shadowed copies must be masked by the
    latest-wins live map, and the result must match the same corpus oracle
    as every other BM25 path."""
    from decimal import ROUND_HALF_UP, Decimal

    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index_unmerged(spark, sf_dir)
    hits = IndexSearcher(ix).search(query_text, k=k)

    def _round6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    rows = [(int(d), _round6(s), i + 1) for i, (d, s) in enumerate(hits)]
    return spark.createDataFrame(rows, "doc_id long, score double, rank int")


def bm25_wand_topk_documents(
    spark: SparkSession, sf_dir: str, query_text: str = FLAGSHIP_QUERY, k: int = 10
) -> DataFrame:
    """The serving path (IndexSearcher.search, exact vectorized) against the
    same oracle: IndexSearcher reads the merged gate index without Spark."""
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    from decimal import ROUND_HALF_UP, Decimal

    ix = _gate_index(spark, sf_dir)
    hits = IndexSearcher(ix).search(query_text, k=k)

    def _round6(x: float) -> float:
        # HALF_UP on the shortest decimal repr — matches F.round on doubles
        # (Java BigDecimal.valueOf) and DuckDB round; Python round() is
        # half-even and would hash-diverge on exact halves.
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    rows = [(int(d), _round6(s), i + 1) for i, (d, s) in enumerate(hits)]
    return spark.createDataFrame(rows, "doc_id long, score double, rank int")


def bm25_chunkmax_topk_documents(
    spark: SparkSession, sf_dir: str, query_text: str = FLAGSHIP_QUERY, k: int = 10
) -> DataFrame:
    """The chunkmax serving mode (header-only block-max pruning + exact
    batched rescore, wand.search_chunkmax) against the SAME corpus oracle
    as every other BM25 path: the merged gate index has no shadowed docs,
    so the header-df path is taken (asserted), and ranks AND float64
    scores must equal the search()/scan results."""
    from decimal import ROUND_HALF_UP, Decimal

    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    searcher = IndexSearcher(ix)
    assert not getattr(searcher, "_shadowed", False)
    hits = searcher.search(query_text, k=k, algorithm="chunkmax")

    def _round6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    rows = [(int(d), _round6(s), i + 1) for i, (d, s) in enumerate(hits)]
    return spark.createDataFrame(rows, "doc_id long, score double, rank int")


# ---------------------------------------------------------------- synonym
SYNONYM_SET = ("scan", "merge", "join")  # one synonym group for the gate


def synonym_query(
    spark: SparkSession,
    sf_dir: str,
    synonyms: tuple[str, ...] = SYNONYM_SET,
    k: int = 10,
) -> DataFrame:
    """Lucene SynonymQuery parity (the query SynonymGraphFilter rewrites
    to): the whole synonym set scores as ONE pseudo-term — per-doc tf is
    the SUM of the members' tfs, document frequency is the MAX of the
    members' dfs (SynonymQuery's blended docFreq), and the blended
    (tf, df) pair runs once through the standard BM25 formula.

    Plan: one pruned posting read for the member terms; the blended df is
    a one-row aggregate broadcast into the scoring projection (never a
    driver collect); per-doc blending is a map-side-combinable groupBy.
    tf-blending sums integers, so there is no float-accumulation-order
    hazard anywhere before the single scoring expression.
    Oracle: the same blend spelled in SQL (synonym_sql)."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import exact_stats, read_postings

    ix = _gate_index(spark, sf_dir)
    n_docs, avgdl = exact_stats(spark, ix)
    posts = read_postings(spark, ix, sorted(set(synonyms)))
    dfb = (
        posts.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df").cast("double").alias("df_b"))
    )
    blended = posts.groupBy("doc_id").agg(
        F.sum("tf").cast("double").alias("tf"),
        F.max("dl").cast("double").alias("dl"),
    )
    contrib = bm25_contrib_col("tf", "dl", avgdl, bm25_idf_col("df_b", n_docs))
    scored = blended.crossJoin(F.broadcast(dfb)).select(
        "doc_id", F.round(contrib, 6).alias("score")
    )
    return ranked_topk(scored, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# ---------------------------------------------------------------- dismax
DISMAX_SUBQUERIES = ("merge scan", "window sort")
DISMAX_TIE = 0.3


def dismax_query(
    spark: SparkSession,
    sf_dir: str,
    subqueries: tuple[str, str] = DISMAX_SUBQUERIES,
    tie: float = DISMAX_TIE,
    k: int = 10,
) -> DataFrame:
    """Lucene DisjunctionMaxQuery parity: a doc matching any subquery
    scores max(subquery scores) + tie * (sum of the non-max scores) —
    the tie-breaker blend dismax is famous for (multi-field search uses
    exactly this shape per field).

    Exactly two subqueries are scored, which keeps every float
    combination here a single add/multiply (order-free): the non-max sum
    is just min(score) when both match, 0 otherwise. The per-subquery
    scores come from the exact unranked index path (bm25_scores —
    canonical ascending-term accumulation), so the only ranking window
    runs over the fused per-doc rows via ranked_topk."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores

    assert len(subqueries) == 2, "dismax gate scores exactly two subqueries"
    ix = _gate_index(spark, sf_dir)
    qdf = spark.createDataFrame(
        [(f"d{i}", q) for i, q in enumerate(subqueries)],
        "query_id string, query_text string",
    )
    sc = bm25_scores(spark, ix, qdf)
    per = sc.groupBy("doc_id").agg(
        F.max("score").alias("mx"),
        F.min("score").alias("mn"),
        F.count(F.lit(1)).alias("n"),
    )
    other = F.when(F.col("n") > 1, F.col("mn")).otherwise(F.lit(0.0))
    scored = per.select(
        "doc_id", F.round(F.col("mx") + F.lit(tie) * other, 6).alias("score")
    )
    return ranked_topk(scored, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# ---------------------------------------------------------------- block join
BLOCK_WIDTH = 8  # parent block = 8 consecutive docids (conv of 8 turns)


def block_join_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
    width: int = BLOCK_WIDTH,
) -> DataFrame:
    """Lucene ToParentBlockJoinQuery parity (ScoreMode.Max): children are
    the indexed docs, parents are fixed docid blocks (the transcript
    shape: a conversation's turns share a docid block, docids are
    conv<<20|turn), and a parent's score is the MAX over its matching
    children, with the matching-child count alongside (the block join's
    child hit accounting).

    Plan: the exact unranked index path scores children (bm25_scores, no
    per-query global window), the parent rollup is one map-side-
    combinable groupBy on a derived key, and only parent rows are ranked
    (ranked_topk). max-then-round is float-safe: child scores are already
    float64-exact per the determinism spec, and max picks one of them."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    child = bm25_scores(spark, ix, queries)
    parents = (
        child.withColumn(
            "parent_id", F.floor(F.col("doc_id") / F.lit(width)).cast("long")
        )
        .groupBy("parent_id")
        .agg(
            F.round(F.max("score"), 6).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_children"),
        )
    )
    return ranked_topk(
        parents, [F.desc("score"), F.asc("parent_id")], k
    ).select("parent_id", "score", "n_children", "rank")


# ---------------------------------------------------------------- phrase prefix
PHRASE_PREFIX = ("fast", "s")  # the query  "fast s*"


def phrase_prefix_query(
    spark: SparkSession,
    sf_dir: str,
    first: str = PHRASE_PREFIX[0],
    prefix: str = PHRASE_PREFIX[1],
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Lucene MultiPhraseQuery parity (match_phrase_prefix): docs where
    `first` is immediately followed by ANY dictionary term starting with
    `prefix`. The prefix expands df-ranked and capped like every other
    multi-term rewrite (Lucene's maxExpansions); adjacency is verified
    from the positional sidecar — the expansion set's position lists are
    unioned per doc (one flatten groupBy), then intersected against the
    anchor term's positions shifted by one, all pure codegen. Under the
    cap the result equals the uncapped expansion (gate vocabulary is far
    below 1024 terms).
    Oracle: toks[i] = first AND starts_with(toks[i+1], prefix)."""
    from lucene_mapreduce_spark.query.segments import read_positions

    ix = _gate_index(spark, sf_dir)
    cands = _index_vocab(spark, ix).filter(F.col("term").startswith(prefix))
    exps = _expand_capped(cands, max_expansions)
    if not exps:
        return spark.createDataFrame([], "doc_id long")
    pos = read_positions(spark, ix, sorted({first, *exps}))
    anchor = pos.filter(F.col("term") == first).select(
        "doc_id", F.col("positions").alias("s")
    )
    nxt = (
        pos.filter(F.col("term").isin(exps))
        .groupBy("doc_id")
        .agg(F.flatten(F.collect_list("positions")).alias("p1"))
    )
    return (
        anchor.join(nxt, "doc_id")
        .withColumn(
            "s",
            F.filter(
                F.transform("s", lambda x: x + 1),
                lambda x: F.array_contains(F.col("p1"), x),
            ),
        )
        .filter(F.size("s") > 0)
        .select("doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- range facets
FACET_RANGES = ((0, 150), (150, 300), (300, 1 << 20))  # [lo, hi) buckets


def range_facets(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    fld: str = "n_chars",
    ranges: tuple[tuple[int, int], ...] = FACET_RANGES,
) -> DataFrame:
    """Lucene LongRangeFacetCounts parity: [lo, hi) bucket counts of a
    numeric doc-value field over the FULL hit set of the disjunctive
    query (facets count every hit, not the top-k page). The hit set stays
    distributed (boolean_match mode="or"); field values come from the
    fields sidecar's num_value column (SortedNumericDocValues face) and
    join only the hit docs; the bucket expression is one codegen CASE.
    """
    from lucene_mapreduce_spark.query.segments import (
        boolean_match,
        field_num_values,
    )

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    nums = field_num_values(spark, ix, fld)
    bucket = F.lit(None).cast("string")
    for lo, hi in reversed(ranges):
        bucket = F.when(
            (F.col("num_value") >= lo) & (F.col("num_value") < hi),
            F.lit(f"[{lo},{hi})"),
        ).otherwise(bucket)
    return (
        nums.join(hits, "doc_id")
        .select(bucket.alias("bucket"))
        .filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------- explain
EXPLAIN_DOC = 42  # the fixed doc whose score gets broken down


def explain_scores(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    doc_id: int = EXPLAIN_DOC,
) -> DataFrame:
    """Lucene IndexSearcher.explain parity: the per-term score breakdown
    for one (query, doc) pair — tf, df, idf, and the term's BM25
    contribution, exactly the numbers the serving scorer accumulates
    (their ascending-term sum IS the doc's score in every top-k gate).

    Plan: the same pruned posting read as a normal query; df_t needs all
    matching docs (that IS the statistic) but the explained doc's rows
    reduce to a handful joined against the broadcast df frame."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.segments import exact_stats, read_postings

    ix = _gate_index(spark, sf_dir)
    n_docs, avgdl = exact_stats(spark, ix)
    qts = sorted(set(tokenize_string(query_text)))
    posts = read_postings(spark, ix, qts)
    df_t = posts.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    row = posts.filter(F.col("doc_id") == F.lit(doc_id)).join(
        F.broadcast(df_t), "term"
    )
    idf = bm25_idf_col(F.col("df_t").cast("double"), n_docs)
    contrib = bm25_contrib_col(
        F.col("tf").cast("double"), F.col("dl").cast("double"), avgdl, idf
    )
    return row.select(
        "term",
        F.col("tf").cast("long").alias("tf"),
        F.col("df_t").cast("long").alias("df_t"),
        F.round(idf, 6).alias("idf"),
        F.round(contrib, 6).alias("contrib"),
    )


# ---------------------------------------------------------------- drill sideways
DRILL_DOWN = ("lang", "en")  # the drill-down dimension=value for the gate


def drill_sideways_facets(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    drill: tuple[str, str] = DRILL_DOWN,
) -> DataFrame:
    """Lucene DrillSideways parity over the fields sidecar: with a
    drill-down on one dimension (lang=en), each dimension's facet counts
    are computed with every OTHER drill-down applied — the drilled
    dimension itself sees the undrilled hit set (so its sibling values
    stay visible, the whole point of drill-sideways), while the other
    dimension is counted inside the drill-down.

    Plan: one distributed hit set (boolean_match OR), two fields-sidecar
    reads (SortedSetDocValues face), map-side-combinable counts; the
    drill filter is a semi-join with the tiny drilled-value doc list."""
    from lucene_mapreduce_spark.query.segments import boolean_match, field_values

    fld, val = drill
    other = "source" if fld == "lang" else "lang"
    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    drilled_dim = field_values(spark, ix, fld)
    other_dim = field_values(spark, ix, other)
    drill_docs = drilled_dim.filter(F.col("value") == val).select("doc_id")
    sideways = (
        drilled_dim.join(hits, "doc_id")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit(fld).alias("dim"), "value", "n_docs")
    )
    drilled = (
        other_dim.join(hits, "doc_id")
        .join(drill_docs, "doc_id", "left_semi")
        .groupBy("value")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.lit(other).alias("dim"), "value", "n_docs")
    )
    return sideways.unionByName(drilled)


# ---------------------------------------------------------------- KMV sketch
KMV_K = 16  # < the ~40-term gate vocabulary so the sketch actually engages


def kmv_distinct_tokens(
    spark: SparkSession, sf_dir: str, k: int = KMV_K
) -> DataFrame:
    """K-minimum-values distinct-count sketch over the corpus vocabulary
    (Bar-Yossef et al. 2002, public): hash every distinct token with the
    engine-shared md5, keep the k smallest, and estimate distinct count
    as (k-1) * 2^52 / kth_smallest — where the hash value is the first
    13 hex chars parsed as a 52-bit integer (exactly representable in
    float64, so the one division is bit-identical cross-engine).

    The exact distinct count rides alongside to witness sketch quality;
    at 10^12 docs you would drop that column — the whole point is that
    the k-smallest heap is a TakeOrdered over a map-side-combined
    distinct, never a full global count-distinct shuffle tree. Output:
    one row (n_exact, kth_hash, estimate)."""
    docs = load(spark, sf_dir, "documents")
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    terms = docs.select(
        F.explode(tokenize_col(F.col("text"))).alias("term")
    ).distinct()
    hashed = terms.select(
        F.conv(F.substring(F.md5("term"), 1, 13), 16, 10)
        .cast("long")
        .alias("h")
    )
    kth = hashed.orderBy(F.asc("h")).limit(k).agg(F.max("h").alias("kth_hash"))
    n = terms.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    est = F.round(
        F.lit(float((k - 1) * (1 << 52))) / F.col("kth_hash").cast("double"), 6
    )
    return n.crossJoin(F.broadcast(kth)).select(
        "n_exact", "kth_hash", est.alias("estimate")
    )


# ---------------------------------------------------------------- spans
SPAN_FIRST = ("merge", 5)  # SpanFirstQuery(term, end)
SPAN_NOT = ("fast", "merge", 1)  # SpanNotQuery(include, exclude, dist)


def span_first_query(
    spark: SparkSession,
    sf_dir: str,
    term: str = SPAN_FIRST[0],
    end: int = SPAN_FIRST[1],
) -> DataFrame:
    """Lucene SpanFirstQuery parity: docs where `term` occurs within the
    first `end` token positions (span end <= end). One pruned positional-
    sidecar read; the check is array_min < end — positions are stored
    ascending, 0-based (build.write_positions)."""
    from lucene_mapreduce_spark.query.segments import read_positions

    ix = _gate_index(spark, sf_dir)
    pos = read_positions(spark, ix, [term])
    return (
        pos.filter(F.col("term") == term)
        .filter(F.array_min("positions") < F.lit(end))
        .select("doc_id")
        .orderBy("doc_id")
    )


def span_not_query(
    spark: SparkSession,
    sf_dir: str,
    include: str = SPAN_NOT[0],
    exclude: str = SPAN_NOT[1],
    dist: int = SPAN_NOT[2],
) -> DataFrame:
    """Lucene SpanNotQuery parity (with pre/post = dist): docs with an
    occurrence of `include` that has NO occurrence of `exclude` within
    `dist` positions — 'fast' not next to 'merge'. Two pruned positional
    reads, one doc_id left join, and a pure-codegen exists/forall over
    the position arrays (no UDF)."""
    from lucene_mapreduce_spark.query.segments import read_positions

    ix = _gate_index(spark, sf_dir)
    pos = read_positions(spark, ix, sorted({include, exclude}))
    inc = pos.filter(F.col("term") == include).select(
        "doc_id", F.col("positions").alias("pi")
    )
    exc = pos.filter(F.col("term") == exclude).select(
        "doc_id", F.col("positions").alias("pe")
    )
    j = inc.join(exc, "doc_id", "left").withColumn(
        "pe", F.coalesce(F.col("pe"), F.expr("CAST(array() AS array<int>)"))
    )
    keep = F.exists(
        "pi",
        lambda p: ~F.exists("pe", lambda q: F.abs(p - q) <= F.lit(dist)),
    )
    return j.filter(keep).select("doc_id").orderBy("doc_id")


# ---------------------------------------------------------------- percentiles
DL_PERCENTILES = (0.5, 0.9, 0.99)


def dl_percentiles(
    spark: SparkSession,
    sf_dir: str,
    ps: tuple[float, ...] = DL_PERCENTILES,
) -> DataFrame:
    """Exact linear-interpolated doc-length percentiles over the corpus
    (the stats a curation pipeline thresholds on). Spark's `percentile`
    and DuckDB's `quantile_cont` both compute type-7 quantiles
    (h = (n-1)p, linear between order statistics), so the values agree
    to float64 and round(6) hash-exactly. Exact percentile sorts within
    groups — fine for a global scalar profile; at 10^12 rows swap in a
    t-digest/KLL sketch (approx_percentile) and drop the oracle."""
    docs = load(spark, sf_dir, "documents")
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    dls = docs.select(F.size(tokenize_col(F.col("text"))).alias("dl"))
    plist = ", ".join(str(p) for p in ps)
    row = dls.agg(
        F.expr(f"percentile(dl, array({plist}))").alias("qs")
    ).select(
        F.posexplode("qs").alias("i", "q")
    )
    pmap = F.array(*[F.lit(p) for p in ps])
    return row.select(
        F.element_at(pmap, F.col("i") + 1).alias("p"),
        F.round("q", 6).alias("dl_quantile"),
    )


# ---------------------------------------------------------------- rescore
RESCORE_WEIGHT = 2.0
RESCORE_DEPTH = 50


def rescore_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    phrase_text: str = PHRASE_QUERY,
    weight: float = RESCORE_WEIGHT,
    n: int = RESCORE_DEPTH,
    k: int = 10,
) -> DataFrame:
    """Lucene QueryRescorer parity: a cheap first-pass BM25 top-n page is
    re-scored by adding `weight` for docs that also match the exact
    phrase (the classic phrase-boost second pass), then re-ranked to
    top-k. The phrase side is the distributed positional path
    (phrase_match); the combine is one left-semi-style join over n rows
    and a single float add — the second pass never touches docs outside
    the first-pass page, exactly Lucene's rescore contract."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import phrase_match

    ix = _gate_index(spark, sf_dir)
    base = bm25_index_topk_documents(spark, sf_dir, query_text, k=n).select(
        "doc_id", "score"
    )
    ph = phrase_match(spark, ix, phrase_text).withColumn("hit", F.lit(1.0))
    combined = base.join(ph, "doc_id", "left").select(
        "doc_id",
        F.round(
            F.col("score") + F.lit(weight) * F.coalesce("hit", F.lit(0.0)), 6
        ).alias("score"),
    )
    return ranked_topk(combined, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# ---------------------------------------------------------------- function score
def function_score_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
) -> DataFrame:
    """Lucene FunctionScoreQuery parity: the BM25 relevance score
    multiplied by a field-value function — ln(1 + n_chars), the standard
    doc-quality/recency boost shape. The field rides the fields
    sidecar's num_value face (never the raw corpus), the BM25 side is
    the exact unranked index path, and only the fused rows rank."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, field_num_values

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    base = bm25_scores(spark, ix, queries).select("doc_id", "score")
    nums = field_num_values(spark, ix, "n_chars")
    fused = base.join(nums, "doc_id").select(
        "doc_id",
        F.round(
            F.col("score")
            * F.log(F.lit(1.0) + F.col("num_value").cast("double")),
            6,
        ).alias("score"),
    )
    return ranked_topk(fused, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# ---------------------------------------------------------------- point in time
PIT_SEQ = 1  # the gate reads the unmerged index as of its FIRST batch


def search_at_generation(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    as_of: int = PIT_SEQ,
    k: int = 10,
) -> DataFrame:
    """Lucene point-in-time reader / IndexCommit parity: BM25 top-k over
    the UNMERGED 2-generation gate index pinned to its first commit —
    batch 2's re-indexed docs (and their shadowing) must be invisible, so
    the result is BM25 over generation 1's corpus (even docs + the stale
    odd copies), stats included. The reference pins every reducer run to
    one such commit (XdiReportReducer.java:342-356); Lucene exposes it as
    DirectoryReader.open(IndexCommit) / PIT ids on the search side.

    Plan-wise this is free: pit_manifest filters the segment list BEFORE
    any read is planned, so the query scans exactly the gen-1 parquet and
    nothing newer (no mask joins — a PIT read of the first generation is
    single-segment)."""
    from lucene_mapreduce_spark.query.segments import bm25_index_topk, pit_manifest

    ix = _gate_index_unmerged(spark, sf_dir)
    m = pit_manifest(ix, as_of)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    out = bm25_index_topk(spark, ix, queries, k=k, round_to=6, manifest=m)
    return out.select("doc_id", "score", "rank")


# ---------------------------------------------------------------- to-child join
def to_child_block_join(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 5,
    width: int = BLOCK_WIDTH,
) -> DataFrame:
    """Lucene ToChildBlockJoinQuery parity: rank parent blocks by their
    best-matching child (ScoreMode.Max, the block_join_topk rollup), then
    return EVERY child of the top-k parents carrying the parent's score —
    'give me the full conversations behind the best-matching turns', the
    retrieval shape context-window packing needs.

    Plan: the child scoring and parent rollup are block_join_topk's
    (exact unranked index path + one map-side-combinable groupBy); only k
    parent rows rank; the child expansion is the doclen pseudo-term read
    (cheapest whole-index column) broadcast-semi-joined to the k parents
    — at scale the k parent blocks are contiguous docid ranges, so the
    read could chunk-prune further (read_postings chunk_range)."""
    from pyspark.sql import Window

    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, live_doclens

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    child = bm25_scores(spark, ix, queries)
    parents = (
        child.withColumn(
            "parent_id", F.floor(F.col("doc_id") / F.lit(width)).cast("long")
        )
        .groupBy("parent_id")
        .agg(F.round(F.max("score"), 6).alias("score"))
    )
    top = ranked_topk(parents, [F.desc("score"), F.asc("parent_id")], k).select(
        "parent_id", "score"
    )
    kids = live_doclens(spark, ix).select(
        "doc_id",
        F.floor(F.col("doc_id") / F.lit(width)).cast("long").alias("parent_id"),
    )
    out = kids.join(F.broadcast(top), "parent_id")
    w = Window.orderBy(F.desc("score"), F.asc("parent_id"), F.asc("doc_id"))
    # k parents x block width rows total — the global window ranks <= k*width
    # rows, not a corpus (same bounded shape ranked_topk leaves after its
    # TakeOrdered prefilter)
    return out.select(
        "doc_id", "parent_id", "score", F.row_number().over(w).alias("rank")
    )


# ---------------------------------------------------------------- count-min
CMS_ROWS = 4
CMS_WIDTH = 8192
CMS_TOPK = 10


def cms_heavy_hitters(
    spark: SparkSession,
    sf_dir: str,
    rows: int = CMS_ROWS,
    width: int = CMS_WIDTH,
    k: int = CMS_TOPK,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005, public) over corpus
    term frequencies, witnessed on the exact top-k heavy hitters: each of
    `rows` hash rows buckets every vocabulary term by a 52-bit md5 prefix
    mod `width`; a term's estimate is the min over rows of its bucket
    sums. CMS never underestimates, so cf_est >= cf — the oracle checks
    both the sketch cells and the estimates bit-exactly (md5 is the one
    cross-engine hash, CLAUDE.md).

    Scale shape: token counts first reduce to the vocabulary frame (one
    map-side-combinable groupBy — the sketch aggregation then touches
    vocab x rows rows, billions not trillions at 100 TB); the rows x width
    cell table is KB-sized and broadcast back for the estimate join. The
    exact cf column is the sf-scale witness; at 10^12 tokens you drop it
    and keep only sketch cells + a candidate stream."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    cf = (
        docs.select(F.explode(tokenize_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )

    def _bucket(r: int):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"cms{r}:"), F.col("term"))), 1, 13),
            16, 10,
        ).cast("long")
        return (h % F.lit(width)).alias(f"b{r}")

    buckets = cf.select("term", "cf", *[_bucket(r) for r in range(rows)])
    cells = None
    for r in range(rows):
        c = buckets.select(
            F.lit(r).alias("r"), F.col(f"b{r}").alias("bucket"), "cf"
        )
        cells = c if cells is None else cells.unionByName(c)
    sketch = cells.groupBy("r", "bucket").agg(F.sum("cf").alias("cell"))

    hh = ranked_topk(cf, [F.desc("cf"), F.asc("term")], k)
    hh_cells = None
    for r in range(rows):
        c = hh.select("term", "cf", "rank", F.lit(r).alias("r"), _bucket(r))
        c = c.withColumnRenamed(f"b{r}", "bucket")
        hh_cells = c if hh_cells is None else hh_cells.unionByName(c)
    est = (
        hh_cells.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("term", "cf", "rank")
        .agg(F.min("cell").cast("long").alias("cf_est"))
    )
    return est.select("term", "cf", "cf_est", "rank").orderBy("rank")


# ---------------------------------------------------------------- LM Dirichlet
LMD_MU = 2000.0


def lmdirichlet_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    mu: float = LMD_MU,
    k: int = 10,
) -> DataFrame:
    """Lucene LMDirichletSimilarity parity (Zhai & Lafferty 2001) through
    the same pruned index read as tfidf_topk: per matched term the
    contribution is max(0, ln(1 + tf/(mu*p(t|C))) + ln(mu/(dl+mu))) with
    p(t|C) = cf_t/total_tokens — Lucene clamps negative term scores to 0
    (scores must be non-negative for WAND). Per-doc sums are canonical
    ascending-term accumulation (the house determinism rule), rounded 6dp.

    total_tokens comes straight off the merged manifest (columnar segment
    stats — no corpus scan); cf_t is one aggregate over the already-pruned
    query-term postings."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    m = load_manifest(ix)
    total = float(sum(s.total_tokens for s in m.ordered()))
    qts = sorted(set(tokenize_string(query_text)))
    posts = read_postings(spark, ix, qts)
    cf = posts.groupBy("term").agg(F.sum("tf").cast("double").alias("cf_t"))
    j = posts.join(F.broadcast(cf), "term")
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    contrib = F.greatest(
        F.lit(0.0),
        F.log(F.lit(1.0) + tf / (F.lit(mu) * (F.col("cf_t") / F.lit(total))))
        + F.log(F.lit(mu) / (dl + F.lit(mu))),
    )
    scored = j.select("doc_id", "term", contrib.alias("contrib"))
    agg = scored.groupBy("doc_id").agg(
        F.round(canonical_sum("contrib", "term"), 6).alias("score")
    )
    return ranked_topk(agg, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# ---------------------------------------------------------------- taxonomy
def taxonomy_facets(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
) -> DataFrame:
    """Lucene taxonomy-facet parity (hierarchical dim paths, e.g.
    source/lang): counts for the hit set at EVERY level of the hierarchy —
    per (source, lang) leaf, per source subtotal, and the root total —
    Spark's rollup lattice, which Catalyst executes with map-side partial
    aggregation in one shuffle (no per-level re-scan). NULL lattice slots
    surface as '<all>' so the row set is schema-stable cross-engine.

    Facet sources are the fields sidecar (SortedSetDocValues face), never
    the raw corpus — same contract as field_facets/drill_sideways."""
    from lucene_mapreduce_spark.query.segments import boolean_match, field_values

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    src = field_values(spark, ix, "source").withColumnRenamed("value", "source")
    lng = field_values(spark, ix, "lang").withColumnRenamed("value", "lang")
    j = hits.join(src, "doc_id").join(lng, "doc_id")
    return (
        j.rollup("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            F.coalesce("source", F.lit("<all>")).alias("source"),
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            "n_docs",
        )
    )


# ------------------------------------------------------------ constant score
CONST_SCORE = ("merge", 150.0, 400.0, 2.5)  # term, n_chars lo/hi, boost


def constant_score_query(
    spark: SparkSession,
    sf_dir: str,
    term: str = CONST_SCORE[0],
    lo: float = CONST_SCORE[1],
    hi: float = CONST_SCORE[2],
    boost: float = CONST_SCORE[3],
) -> DataFrame:
    """Lucene ConstantScoreQuery parity: a filter (term AND numeric range)
    wrapped so every hit scores exactly `boost` — no BM25 evaluation at
    all. Both legs are pure index reads (postings + the num-sorted fields
    sidecar); the intersection is a semi-join, so nothing ever leaves
    docid granularity. Reference builds its searcher over the same Lucene
    API surface (XdiReportReducer.java:356)."""
    from lucene_mapreduce_spark.query.segments import (
        boolean_match,
        field_range_match,
    )

    ix = _gate_index(spark, sf_dir)
    t_hits = boolean_match(spark, ix, term, mode="or")
    r_hits = field_range_match(spark, ix, "n_chars", lo, hi)
    return (
        t_hits.join(r_hits, "doc_id", "left_semi")
        .select("doc_id", F.lit(float(boost)).alias("score"))
        .orderBy("doc_id")
    )


# ------------------------------------------------------------- FILTER occur
FILTER_CLAUSE = ("table scan fast", "merge")  # SHOULD terms, FILTER term


def filter_clause_query(
    spark: SparkSession,
    sf_dir: str,
    should: str = FILTER_CLAUSE[0],
    filt: str = FILTER_CLAUSE[1],
    k: int = 10,
) -> DataFrame:
    """BooleanQuery with Occur.FILTER parity: the filter clause constrains
    matches but contributes NO score (and, per Lucene, does not alter the
    corpus-level stats the SHOULD terms score with). Docs matching only
    the filter still match, at score 0 — exactly BooleanQuery's "optional
    clauses are optional once a required/filter clause exists". Scores
    ride the unranked index path (bm25_scores); the filter is a semi-ish
    left join at docid granularity; top-k is TakeOrderedAndProject."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, boolean_match

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, filt, mode="or")
    q = spark.createDataFrame(
        [("q0", should)], "query_id string, query_text string"
    )
    sc = bm25_scores(spark, ix, q, round_to=6).select("doc_id", "score")
    j = hits.join(sc, "doc_id", "left").withColumn(
        "score", F.coalesce("score", F.lit(0.0))
    )
    out = ranked_topk(j, [F.desc("score"), F.asc("doc_id")], k)
    return out.select("doc_id", "score", "rank")


# ----------------------------------------------------------- TermsSetQuery
TERMS_SET_TERMS = "table scan fast merge"  # CoveringQuery clause set


def terms_set_query(
    spark: SparkSession,
    sf_dir: str,
    terms_text: str = TERMS_SET_TERMS,
) -> DataFrame:
    """Lucene TermsSetQuery / CoveringQuery parity: match docs where the
    number of distinct query terms present reaches a PER-DOC minimum read
    from a long docvalues field (minimumNumberShouldMatchField). The
    minimum here derives from the indexed n_chars field (1 + n_chars % 3 in
    {1,2,3}); matched counts come from one pruned postings read, the
    per-doc minimum from the fields sidecar — a docid-keyed join, no text
    access."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.segments import (
        field_num_values,
        read_postings,
    )

    ix = _gate_index(spark, sf_dir)
    terms = sorted(set(tokenize_string(terms_text)))
    m = (
        read_postings(spark, ix, terms)
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_matched"))
    )
    req = field_num_values(spark, ix, "n_chars").select(
        "doc_id",
        (F.lit(1) + F.col("num_value").cast("long") % 3).alias("required"),
    )
    return (
        m.join(req, "doc_id")
        .filter(F.col("n_matched") >= F.col("required"))
        .select(
            "doc_id",
            F.col("n_matched").cast("long").alias("n_matched"),
            F.col("required").cast("long").alias("required"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------- CommonTermsQuery
COMMON_TERMS = ("dup merge scan", 0.1)  # query, maxTermFrequency cutoff


def common_terms_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = COMMON_TERMS[0],
    max_tf: float = COMMON_TERMS[1],
    k: int = 10,
) -> DataFrame:
    """Lucene CommonTermsQuery parity (lowFreqOccur=MUST,
    highFreqOccur=SHOULD): query terms with df/N > maxTermFrequency are
    demoted to optional; rare terms stay required. The split reads the
    term dictionary (query-sized collect); candidate docs must contain
    every low-freq term (one pruned postings read, map-side-combinable
    count); scoring covers ALL query terms via the unranked index path, so
    a doc's score still credits the common terms it contains."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import (
        bm25_scores,
        exact_stats,
        read_postings,
    )

    ix = _gate_index(spark, sf_dir)
    terms = sorted(set(tokenize_string(query_text)))
    n_docs, _ = exact_stats(spark, ix)
    dfs = {
        r["term"]: r["df"]
        for r in _index_vocab(spark, ix).filter(F.col("term").isin(terms)).collect()
    }
    low = [t for t in terms if dfs.get(t, 0) / n_docs <= max_tf]
    q = spark.createDataFrame(
        [("q0", " ".join(terms))], "query_id string, query_text string"
    )
    sc = bm25_scores(spark, ix, q, round_to=6).select("doc_id", "score")
    if low:
        lp = (
            read_postings(spark, ix, low)
            .groupBy("doc_id")
            .agg(F.countDistinct("term").alias("nl"))
            .filter(F.col("nl") == len(low))
        )
        sc = sc.join(lp.select("doc_id"), "doc_id", "left_semi")
    out = ranked_topk(sc, [F.desc("score"), F.asc("doc_id")], k)
    return out.select("doc_id", "score", "rank")


# ------------------------------------------------- SpanNear(SpanOr(a,b), c)
SPAN_OR_NEAR = ("fast", "slow", "merge", 3)


def span_or_near_query(
    spark: SparkSession,
    sf_dir: str,
    a: str = SPAN_OR_NEAR[0],
    b: str = SPAN_OR_NEAR[1],
    c: str = SPAN_OR_NEAR[2],
    dist: int = SPAN_OR_NEAR[3],
) -> DataFrame:
    """Nested span parity — SpanNearQuery(SpanOrQuery(a, b), c, slop):
    docs where some occurrence of `a` OR `b` lies within `dist` token
    positions of an occurrence of `c`. The OR leg is a flatten over the
    two terms' position arrays (order irrelevant — the check is pure
    existence); the proximity check is one codegen exists/exists over two
    pruned positional-sidecar reads."""
    from lucene_mapreduce_spark.query.segments import read_positions

    ix = _gate_index(spark, sf_dir)
    pos = read_positions(spark, ix, sorted({a, b, c}))
    ab = (
        pos.filter(F.col("term").isin([a, b]))
        .groupBy("doc_id")
        .agg(F.flatten(F.collect_list("positions")).alias("pab"))
    )
    pc = pos.filter(F.col("term") == c).select(
        "doc_id", F.col("positions").alias("pc")
    )
    j = ab.join(pc, "doc_id")
    hit = F.exists(
        "pab", lambda p: F.exists("pc", lambda q: F.abs(p - q) <= F.lit(dist))
    )
    return j.filter(hit).select("doc_id").orderBy("doc_id")


# ---------------------------------------------------- numeric stats facets
def hit_stats_facets(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
) -> DataFrame:
    """Numeric stats facet (Solr StatsComponent / ES stats aggregation
    shape): per-lang count/min/max/sum/avg of the indexed n_chars field
    over the disjunctive hit set. Every leg is an index read (postings +
    both faces of the fields sidecar); the rollup is one
    map-side-combinable groupBy — at 100 TB this is hits-sized, never
    corpus-sized."""
    from lucene_mapreduce_spark.query.segments import (
        boolean_match,
        field_num_values,
        field_values,
    )

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    lang = field_values(spark, ix, "lang").select(
        F.col("value").alias("lang"), "doc_id"
    )
    nv = field_num_values(spark, ix, "n_chars")
    j = hits.join(lang, "doc_id").join(nv, "doc_id")
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.col("num_value").cast("long")).alias("min_chars"),
            F.max(F.col("num_value").cast("long")).alias("max_chars"),
            F.sum(F.col("num_value").cast("long")).alias("sum_chars"),
            F.round(F.avg(F.col("num_value").cast("double")), 6).alias(
                "avg_chars"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------- delete-by-query
DELETE_TERM = "vector"


def delete_by_query(
    spark: SparkSession,
    sf_dir: str,
    del_term: str = DELETE_TERM,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
) -> DataFrame:
    """IndexWriter.deleteDocuments(TermQuery) + forceMergeDeletes parity:
    resolve the delete query to a docid set (one pruned postings read),
    then answer the flagship BM25 top-k as if those docs were expunged —
    df_t recomputed over surviving postings, (N, avgdl) over surviving
    doclens (two scalars). Everything stays index-side: no corpus scan, no
    rebuild; the delete set rides as a left-anti join at docid
    granularity. This is the post-merge semantics (deleted docs absent
    from stats), the contract our oracles use everywhere."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.bm25_df import score_and_topk
    from lucene_mapreduce_spark.query.segments import (
        boolean_match,
        live_doclens,
        read_postings,
    )

    ix = _gate_index(spark, sf_dir)
    dele = boolean_match(spark, ix, del_term, mode="or")
    terms = sorted(set(tokenize_string(query_text)))
    pos = read_postings(spark, ix, terms).join(dele, "doc_id", "left_anti")
    dl = (
        live_doclens(spark, ix)
        .select("doc_id", "dl")
        .join(dele, "doc_id", "left_anti")
    )
    row = dl.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    ).collect()[0]
    if row["n"] == 0:
        # the delete query matched every document — avgdl is NULL and
        # there is nothing left to score (ADVICE r3 guard)
        return spark.createDataFrame(
            [], "doc_id bigint, score double, rank int"
        )
    df_t = pos.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    matched = (
        pos.withColumn("query_id", F.lit("q0"))
        .join(F.broadcast(df_t), "term")
        .withColumn("n_docs", F.lit(int(row["n"])))
        .withColumn("avgdl", F.lit(float(row["avgdl"])))
    )
    out = score_and_topk(matched, k=k, round_to=6)
    return out.select("doc_id", "score", "rank")


# ------------------------------------------------------------------- BM25F
BM25F_QUERY = "src3 table merge"  # 'src3' hits only the keyword field
BM25F_W = (1.0, 2.0)  # field weights: text, keyword(source)


def bm25f_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BM25F_QUERY,
    kw_field: str = "source",
    w_text: float = BM25F_W[0],
    w_kw: float = BM25F_W[1],
    k: int = 10,
) -> DataFrame:
    """BM25F (Robertson/Zaragoza) over two fields: the tokenized text
    (weight w_text, length-normalized with the standard b) and an indexed
    keyword field (weight w_kw, no length norm — single-token field).
    Per-term field-weighted tf:  tfn = w_text*tf_text/norm + w_kw*tf_kw;
    idf uses df over docs matching the term in ANY field; score =
    sum_t idf * tfn/(k1+tfn), canonical ascending-term accumulation.

    Both tf legs are index reads (pruned postings + the fields sidecar's
    SortedSetDocValues face) merged by a (term, doc) full join; stats are
    the manifest scalars. This is the multi-field search shape
    (title^2 + body) every search UI runs."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.bm25 import B, K1
    from lucene_mapreduce_spark.query.segments import (
        exact_stats,
        field_values,
        live_doclens,
        read_postings,
    )

    ix = _gate_index(spark, sf_dir)
    terms = sorted(set(tokenize_string(query_text)))
    n_docs, avgdl = exact_stats(spark, ix)
    tp = read_postings(spark, ix, terms).select(
        "term", "doc_id", F.col("tf").alias("tf_text")
    )
    kv = (
        field_values(spark, ix, kw_field)
        .filter(F.col("value").isin(terms))
        .select(F.col("value").alias("term"), "doc_id", F.lit(1).alias("tf_kw"))
    )
    m = tp.join(kv, ["term", "doc_id"], "full").select(
        "term",
        "doc_id",
        F.coalesce(F.col("tf_text"), F.lit(0)).cast("double").alias("tf_text"),
        F.coalesce(F.col("tf_kw"), F.lit(0)).cast("double").alias("tf_kw"),
    )
    dls = live_doclens(spark, ix).select("doc_id", "dl")
    m = m.join(dls, "doc_id", "left").withColumn(
        "dl", F.coalesce(F.col("dl"), F.lit(0)).cast("double")
    )
    dfa = m.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df_any"))
    norm = F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.lit(float(avgdl))
    tfn = (
        F.lit(float(w_text)) * F.col("tf_text") / norm
        + F.lit(float(w_kw)) * F.col("tf_kw")
    )
    idf = bm25_idf_col("df_any", n_docs)
    contribs = m.join(F.broadcast(dfa), "term").select(
        "doc_id",
        "term",
        (idf * tfn / (F.lit(K1) + tfn)).alias("contrib"),
    )
    per_doc = contribs.groupBy("doc_id").agg(
        F.round(canonical_sum("contrib", "term"), 6).alias("score")
    )
    return ranked_topk(per_doc, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# --------------------------------------------------------- infix suggester
INFIX_QUERY = "or"  # matches sort / order / vector at the gate vocabulary


def infix_suggest(
    spark: SparkSession,
    sf_dir: str,
    infix: str = INFIX_QUERY,
    k: int = 5,
) -> DataFrame:
    """Lucene AnalyzingInfixSuggester parity: dictionary terms containing
    the input ANYWHERE (not just as a prefix), ranked by collection
    frequency desc (term asc ties) — the 'search-as-you-type inside
    words' suggester. Same dictionary-sidecar read as autocomplete with a
    contains predicate; the serving twin answers from the sorted
    dictionary snapshot."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    ix = _gate_index(spark, sf_dir)
    dic = _dictionary_stats(spark, ix).select("term", "cf")
    cands = dic.filter(F.col("term").contains(infix))
    return ranked_topk(cands, [F.desc("cf"), F.asc("term")], k).select(
        "term", "cf", "rank"
    )


# ------------------------------------------------------------ term vectors
def term_vectors(
    spark: SparkSession,
    sf_dir: str,
    doc_id: int = EXPLAIN_DOC,
) -> DataFrame:
    """Lucene TermVectorsReader parity: the per-document view of the index
    — every term of one doc with its tf and ascending positions, read
    from the positional sidecar (never by re-tokenizing stored text).
    The sidecar is term-major (partitionBy(phash), rows sorted (term,
    chunk, doc_id)), so the doc-major access prunes by the doc's CHUNK:
    row-group stats skip everything outside chunk == doc_id DIV
    chunk_docs in every phash directory — the same orthogonal pruning
    axis bm25_range_topk uses, flipped to a point lookup. One row per
    (term, position) so the cross-engine hash compare stays scalar."""
    import os

    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir

    ix = _gate_index(spark, sf_dir)
    m = load_manifest(ix)
    assert m is not None and all(s.has_positions for s in m.ordered())
    assert len(m.ordered()) == 1, (
        "term_vectors reads the merged index (merge_all first): doc-major "
        "access on unmerged generations would need the live map per row"
    )
    s = m.ordered()[0]
    ch = doc_id // m.chunk_docs
    rows = (
        spark.read.parquet(os.path.join(segment_dir(ix, s.segment_id), "positions"))
        .filter(F.col("phash") < F.lit(m.num_partitions))
        .filter((F.col("chunk") == F.lit(ch)) & (F.col("doc_id") == F.lit(doc_id)))
    )
    return (
        rows.select(
            "term",
            F.size("positions").cast("long").alias("tf"),
            F.explode("positions").alias("pos"),
        )
        .select("term", "tf", F.col("pos").cast("int").alias("pos"))
        .orderBy("term", "pos")
    )


# -------------------------------------------------------------- percolator
PERCOLATE_QUERIES = (
    ("p0", "table merge"),
    ("p1", "fast scan"),
    ("p2", "dup"),
    ("p3", "vector stream window"),
    ("p4", "slow join hash"),
)


def percolate_match(
    spark: SparkSession,
    sf_dir: str,
    queries: tuple[tuple[str, str], ...] = PERCOLATE_QUERIES,
) -> DataFrame:
    """Percolator parity (Lucene MemoryIndex / ES percolate): a registry
    of stored conjunctive queries, evaluated against every document —
    which alerts fire for which doc. The registry explodes to a tiny
    (query_id, term) frame broadcast against ONE pruned postings read of
    the union term set; a per-(query, doc) distinct-term count equal to
    the query's term count decides the match — map-side combinable, one
    shuffle at (query, doc) granularity, corpus never re-tokenized. At
    100 TB this is the streaming-alert shape: new docs join a static
    broadcast registry."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    reg = [
        (qid, t)
        for qid, qtext in queries
        for t in sorted(set(tokenize_string(qtext)))
    ]
    need = {qid: len({t for q, t in reg if q == qid}) for qid, _ in queries}
    terms = sorted({t for _, t in reg})
    regdf = spark.createDataFrame(reg, "query_id string, term string")
    needdf = spark.createDataFrame(
        sorted(need.items()), "query_id string, n_terms int"
    )
    pos = read_postings(spark, ix, terms).select("term", "doc_id")
    hits = (
        pos.join(F.broadcast(regdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("m"))
        .join(F.broadcast(needdf), "query_id")
        .filter(F.col("m") == F.col("n_terms"))
    )
    return hits.select("query_id", "doc_id").orderBy("query_id", "doc_id")


# ------------------------------------------------------- LM Jelinek-Mercer
LMJM_LAMBDA = 0.7  # Lucene LMJelinekMercerSimilarity default


def lmjelinekmercer_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    lam: float = LMJM_LAMBDA,
    k: int = 10,
) -> DataFrame:
    """Lucene LMJelinekMercerSimilarity parity (Zhai & Lafferty 2001,
    linear interpolation smoothing): per matched term the contribution is
    ln(1 + ((1-λ)·tf/dl) / (λ·cf_t/total_tokens)) — always non-negative
    (log1p of a positive ratio), so no clamp is needed, unlike Dirichlet.
    Same pruned index read as lmdirichlet_topk; total_tokens off the
    merged manifest's columnar stats, cf_t one aggregate over the pruned
    query-term postings; per-doc sums are canonical ascending-term
    accumulation (the house determinism rule), rounded 6dp."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    m = load_manifest(ix)
    total = float(sum(s.total_tokens for s in m.ordered()))
    qts = sorted(set(tokenize_string(query_text)))
    posts = read_postings(spark, ix, qts)
    cf = posts.groupBy("term").agg(F.sum("tf").cast("double").alias("cf_t"))
    j = posts.join(F.broadcast(cf), "term")
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    contrib = F.log(
        F.lit(1.0)
        + (F.lit(1.0 - lam) * tf / dl)
        / (F.lit(lam) * (F.col("cf_t") / F.lit(total)))
    )
    scored = j.select("doc_id", "term", contrib.alias("contrib"))
    agg = scored.groupBy("doc_id").agg(
        F.round(canonical_sum("contrib", "term"), 6).alias("score")
    )
    return ranked_topk(agg, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# ------------------------------------------------------------ boosting query
BOOSTING_NEG = ("slow", 0.5)  # (negative term, negative_boost)


def boosting_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    neg_term: str = BOOSTING_NEG[0],
    negative_boost: float = BOOSTING_NEG[1],
    k: int = 10,
) -> DataFrame:
    """ES `boosting` query / Lucene BoostingQuery parity: docs matching
    the positive query score normally; docs ALSO matching the negative
    query keep matching but have their score multiplied by
    negative_boost (< 1) — demotion without exclusion, the soft twin of
    AND-NOT. The negative set is one pruned postings read left-joined
    onto the unranked exact BM25 face; only fused rows rank."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, read_postings

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    base = bm25_scores(spark, ix, queries).select("doc_id", "score")
    neg = (
        read_postings(spark, ix, [neg_term])
        .select("doc_id")
        .distinct()
        .withColumn("is_neg", F.lit(True))
    )
    fused = base.join(F.broadcast(neg), "doc_id", "left").select(
        "doc_id",
        F.round(
            F.col("score")
            * F.when(F.col("is_neg"), F.lit(negative_boost)).otherwise(F.lit(1.0)),
            6,
        ).alias("score"),
    )
    return ranked_topk(fused, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# --------------------------------------------------------------- span within
SPAN_WITHIN = ("table", "merge", 6, "fast")  # big = Near(a, b, slop); little = c


def span_within_query(
    spark: SparkSession,
    sf_dir: str,
    a: str = SPAN_WITHIN[0],
    b: str = SPAN_WITHIN[1],
    dist: int = SPAN_WITHIN[2],
    c: str = SPAN_WITHIN[3],
) -> DataFrame:
    """SpanWithinQuery parity — little=c contained in big=SpanNear(a, b,
    slop, unordered): docs where some occurrence of `c` lies INSIDE the
    [min, max] position envelope of an (a, b) pair at most `dist` apart
    (the same simplified gap-budget span envelope the other span gates
    use). Three pruned positional-sidecar reads; the containment test is
    pure codegen exists/exists/exists over the position arrays — no
    explode, no shuffle beyond the three-way doc_id join."""
    from lucene_mapreduce_spark.query.segments import read_positions

    ix = _gate_index(spark, sf_dir)
    pos = read_positions(spark, ix, sorted({a, b, c}))

    def arm(t: str, name: str) -> DataFrame:
        return pos.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(name)
        )

    j = arm(a, "pa").join(arm(b, "pb"), "doc_id").join(arm(c, "pc"), "doc_id")
    hit = F.exists(
        "pa",
        lambda i: F.exists(
            "pb",
            lambda jj: (F.abs(i - jj) <= F.lit(dist))
            & F.exists(
                "pc",
                lambda p: (p >= F.least(i, jj)) & (p <= F.greatest(i, jj)),
            ),
        ),
    )
    return j.filter(hit).select("doc_id").orderBy("doc_id")


# ------------------------------------------------------------- top-hits facet
TOP_HITS_PER_LANG = 3


def top_hits_facets(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    per_bucket: int = TOP_HITS_PER_LANG,
) -> DataFrame:
    """ES `top_hits` aggregation parity (grouping top-k per facet bucket):
    for one query, the best `per_bucket` docs by BM25 within EVERY lang
    bucket — the 'show 3 best matches per language' SERP shape. The hit
    set comes from the unranked exact index path, langs from the fields
    sidecar; ranking is a window partitioned BY BUCKET (never a global
    single-partition window), so at 100 TB each bucket ranks
    independently inside its shuffle partition."""
    from pyspark.sql import Window

    from lucene_mapreduce_spark.query.segments import bm25_scores, field_values

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    hits = bm25_scores(spark, ix, queries, round_to=6).select("doc_id", "score")
    lang = field_values(spark, ix, "lang").select(
        "doc_id", F.col("value").alias("lang")
    )
    j = hits.join(lang, "doc_id")
    w = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= per_bucket)
        .select("lang", "doc_id", "score", "rank")
        .orderBy("lang", "rank")
    )


# ------------------------------------------------------------ matched queries
MATCHED_CLAUSES = (
    ("fast_scan", "fast scan"),
    ("has_table", "table"),
    ("merge_join", "merge join"),
)


def matched_queries(
    spark: SparkSession,
    sf_dir: str,
    clauses: tuple[tuple[str, str], ...] = MATCHED_CLAUSES,
) -> DataFrame:
    """ES `matched_queries` (named clauses) parity: a bool query of named
    SHOULD clauses (each a conjunctive term query); every matching doc
    reports WHICH clauses matched, as a comma-joined name list sorted
    asc (kept scalar for the cross-engine hash). Same broadcast-registry
    shape as percolate_match — one pruned postings read of the union
    term set, per-(clause, doc) distinct-term counts, map-side
    combinable."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    reg = [
        (name, t)
        for name, qtext in clauses
        for t in sorted(set(tokenize_string(qtext)))
    ]
    need = {name: len({t for n, t in reg if n == name}) for name, _ in clauses}
    regdf = spark.createDataFrame(reg, "name string, term string")
    needdf = spark.createDataFrame(
        sorted(need.items()), "name string, n_terms int"
    )
    pos = read_postings(spark, ix, sorted({t for _, t in reg})).select(
        "term", "doc_id"
    )
    per_clause = (
        pos.join(F.broadcast(regdf), "term")
        .groupBy("name", "doc_id")
        .agg(F.countDistinct("term").alias("m"))
        .join(F.broadcast(needdf), "name")
        .filter(F.col("m") == F.col("n_terms"))
    )
    return (
        per_clause.groupBy("doc_id")
        .agg(
            F.array_join(F.sort_array(F.collect_list("name")), ",").alias(
                "matched"
            )
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------------------- random score
RANDOM_SEED = "s7"


def random_score_query(
    spark: SparkSession,
    sf_dir: str,
    seed: str = RANDOM_SEED,
    k: int = 10,
) -> DataFrame:
    """ES function_score `random_score` parity, made reproducible: each
    doc's score is a uniform [0, 1) drawn from the engine-shared md5 of
    (seed, doc_id) — first 13 hex chars as a 52-bit integer (exactly
    representable in float64; same conversion as the KMV sketch) over
    2^52. Deterministic on any engine at any parallelism — the seeded
    shuffling/eval-sampling face of function scoring. Pure codegen map +
    TakeOrdered; the corpus is never shuffled."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    scored = docs.select(
        "doc_id",
        F.round(h.cast("double") / F.lit(float(1 << 52)), 6).alias("score"),
    )
    return ranked_topk(scored, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# ------------------------------------------------------- gauss decay scoring
DECAY_PARAMS = (300.0, 150.0, 0.5)  # origin, scale, decay on n_chars


def decay_function_score(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    origin: float = DECAY_PARAMS[0],
    scale: float = DECAY_PARAMS[1],
    decay: float = DECAY_PARAMS[2],
    k: int = 10,
) -> DataFrame:
    """ES function_score `gauss` decay parity: BM25 multiplied by
    exp(ln(decay) · (x - origin)² / scale²) over the indexed n_chars
    field (offset 0) — score halves `scale` away from `origin`, the
    standard recency/size-preference shape. ln(decay) is folded to a
    Python float literal so both engines evaluate the identical IEEE
    expression; the field rides the fields sidecar's num_value face,
    BM25 is the exact unranked index path, only fused rows rank."""
    import math

    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, field_num_values

    ln_decay = math.log(decay)
    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    base = bm25_scores(spark, ix, queries).select("doc_id", "score")
    nums = field_num_values(spark, ix, "n_chars")
    x = F.col("num_value").cast("double")
    mult = F.exp(
        F.lit(ln_decay)
        * ((x - F.lit(origin)) * (x - F.lit(origin)))
        / F.lit(scale * scale)
    )
    fused = base.join(nums, "doc_id").select(
        "doc_id", F.round(F.col("score") * mult, 6).alias("score")
    )
    return ranked_topk(fused, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# -------------------------------------------------- multi-fragment highlight
HIGHLIGHT_K = 5  # docs highlighted (top-k of the flagship query)


def highlight_all_fragments(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = HIGHLIGHT_K,
    width: int = SNIPPET_WIDTH,
) -> DataFrame:
    """Lucene UnifiedHighlighter multi-fragment parity: for the query's
    top-k docs, EVERY occurrence of any query term yields one fragment —
    (doc_id, pos, snippet) with the (2·width+1)-token window around the
    hit, read from the index's stored fields (search_snippets does only
    the first occurrence). Occurrence discovery and slicing are pure
    codegen (filter over a position sequence + slice/array_join), the
    docstore join touches only the k result docs — fragment count is
    hits-sized, never corpus-sized."""
    import os

    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )
    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir

    ix = _gate_index(spark, sf_dir)
    topk = bm25_index_topk_documents(spark, sf_dir, query_text, k)
    m = load_manifest(ix)
    assert m is not None and all(s.has_docstore for s in m.segments)
    stores = [
        os.path.join(segment_dir(ix, s.segment_id), "docstore")
        for s in m.ordered()
    ]
    assert len(stores) == 1, "highlighting expects the merged gate index"

    qts = sorted(set(tokenize_string(query_text)))
    docs = spark.read.parquet(stores[0]).select(
        "doc_id", tokenize_col(F.col("text")).alias("toks")
    )
    j = topk.select("doc_id", "score", "rank").join(docs, "doc_id")
    occ = F.filter(
        F.sequence(F.lit(1), F.size("toks")),
        lambda i: F.element_at("toks", i).isin(qts),
    )
    e = j.select("doc_id", "score", "rank", "toks", F.explode(occ).alias("i"))
    start = F.greatest(F.lit(1), F.col("i") - F.lit(width))
    return e.select(
        "doc_id",
        "score",
        "rank",
        (F.col("i") - 1).cast("int").alias("pos"),
        F.array_join(F.slice("toks", start, 2 * width + 1), " ").alias(
            "snippet"
        ),
    ).orderBy("doc_id", "pos")


# ------------------------------------------------------------ phrase suggest
PHRASE_SUGGEST_INPUT = ("slw", "jion")  # -> "slow join" > "row join" by bigram count


def phrase_suggest(
    spark: SparkSession,
    sf_dir: str,
    w1: str = PHRASE_SUGGEST_INPUT[0],
    w2: str = PHRASE_SUGGEST_INPUT[1],
    max_dist: int = 2,
    k: int = 5,
) -> DataFrame:
    """ES phrase suggester / Lucene WordBreakSpellChecker parity:
    correct a two-word phrase by generating per-word dictionary
    candidates within edit distance max_dist (DirectSpellChecker's
    maxEdits=2 default) and ranking candidate PAIRS by how often they
    occur adjacently in the corpus — bigram language-model evidence, the
    thing per-word spell_suggest cannot see. Candidate frames are
    dictionary-sized (broadcast); the bigram table is one
    map-side-combinable groupBy over a codegen transform (no shuffle
    before the count)."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    ix = _gate_index(spark, sf_dir)
    vocab = _index_vocab(spark, ix).select("term")
    c1 = vocab.filter(F.levenshtein("term", F.lit(w1)) <= max_dist).select(
        F.col("term").alias("t1")
    )
    c2 = vocab.filter(F.levenshtein("term", F.lit(w2)) <= max_dist).select(
        F.col("term").alias("t2")
    )
    toks = tokenize_col(F.col("text"))
    pair = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("t1"),
            F.element_at("toks", i + 1).alias("t2"),
        ),
    )
    bigrams = (
        load(spark, sf_dir, "documents")
        .select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(F.explode(pair).alias("p"))
        .select("p.t1", "p.t2")
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    cands = bigrams.join(F.broadcast(c1), "t1").join(F.broadcast(c2), "t2")
    return ranked_topk(
        cands, [F.desc("n"), F.asc("t1"), F.asc("t2")], k
    ).select("t1", "t2", "n", "rank")


# ----------------------------------------------------------- histogram facet
HISTOGRAM_WIDTH = 50  # n_chars bucket width for the hit-set histogram


def histogram_facets(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    width: int = HISTOGRAM_WIDTH,
) -> DataFrame:
    """ES `histogram` aggregation over the hit set: fixed-width numeric
    buckets of the indexed n_chars field (bucket key = floor(x/width)·
    width, empty buckets absent — ES min_doc_count=1). Hits from the
    postings read, values from the fields sidecar's num_value face; the
    rollup is one map-side-combinable groupBy — hits-sized, never
    corpus-sized."""
    from lucene_mapreduce_spark.query.segments import boolean_match, field_num_values

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    nv = field_num_values(spark, ix, "n_chars")
    j = hits.join(nv, "doc_id")
    bucket = (F.floor(F.col("num_value").cast("double") / width) * width).cast(
        "long"
    )
    return (
        j.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("bucket")
    )


# ----------------------------------------------------- adjacency matrix facet
def adjacency_matrix_facets(
    spark: SparkSession,
    sf_dir: str,
    clauses: tuple[tuple[str, str], ...] = MATCHED_CLAUSES,
) -> DataFrame:
    """ES `adjacency_matrix` aggregation parity: for a set of named
    filters, the doc count of every filter and every pairwise
    intersection — keys 'a', 'a&b' (names sorted, ES's exact key
    format). Per-filter doc sets come from the same broadcast-registry
    postings read as matched_queries; the pairwise leg is a self-join on
    doc_id restricted to name1 <= name2, so the work is
    sum-of-hit-sizes², never corpus²."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    reg = [
        (name, t)
        for name, qtext in clauses
        for t in sorted(set(tokenize_string(qtext)))
    ]
    need = {name: len({t for n, t in reg if n == name}) for name, _ in clauses}
    regdf = spark.createDataFrame(reg, "name string, term string")
    needdf = spark.createDataFrame(
        sorted(need.items()), "name string, n_terms int"
    )
    pos = read_postings(spark, ix, sorted({t for _, t in reg})).select(
        "term", "doc_id"
    )
    per_clause = (
        pos.join(F.broadcast(regdf), "term")
        .groupBy("name", "doc_id")
        .agg(F.countDistinct("term").alias("m"))
        .join(F.broadcast(needdf), "name")
        .filter(F.col("m") == F.col("n_terms"))
        .select("name", "doc_id")
    )
    a = per_clause.select(F.col("name").alias("n1"), "doc_id")
    b = per_clause.select(F.col("name").alias("n2"), "doc_id")
    pairs = a.join(b, "doc_id").filter(F.col("n1") <= F.col("n2"))
    key = F.when(F.col("n1") == F.col("n2"), F.col("n1")).otherwise(
        F.concat_ws("&", "n1", "n2")
    )
    return (
        pairs.groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("key")
    )


# ------------------------------------------------------------- composite agg
COMPOSITE_AFTER = ("src1", "en")  # after_key cursor: resume past this bucket
COMPOSITE_SIZE = 5


def composite_agg_page(
    spark: SparkSession,
    sf_dir: str,
    after: tuple[str, str] = COMPOSITE_AFTER,
    size: int = COMPOSITE_SIZE,
) -> DataFrame:
    """ES `composite` aggregation parity: deterministic cursor-paged
    iteration over the (source, lang) bucket space — the aggregation
    twin of search_after. Buckets sort ascending by the full key tuple;
    the page starts strictly AFTER the cursor and is `size` buckets
    long. Both facet columns come from the fields sidecar (never the
    raw corpus); the page select is a TakeOrdered over the bucketed
    counts, so paging through 10^9 buckets never materializes more than
    one page."""
    from lucene_mapreduce_spark.query.segments import field_values

    ix = _gate_index(spark, sf_dir)
    src = field_values(spark, ix, "source").select(
        "doc_id", F.col("value").alias("source")
    )
    lng = field_values(spark, ix, "lang").select(
        "doc_id", F.col("value").alias("lang")
    )
    buckets = (
        src.join(lng, "doc_id")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    a_src, a_lang = after
    page = buckets.filter(
        (F.col("source") > a_src)
        | ((F.col("source") == a_src) & (F.col("lang") > a_lang))
    )
    return (
        page.orderBy("source", "lang")
        .limit(size)
        .select("source", "lang", "n_docs")
    )


# -------------------------------------------------------------- multi-terms
MULTI_TERMS_K = 10


def multi_terms_agg(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    k: int = MULTI_TERMS_K,
) -> DataFrame:
    """ES `multi_terms` aggregation parity: the top-k composite
    (lang, source) buckets of the hit set by doc count (count desc,
    keys asc — ES's deterministic tiebreak). Hits come from the pruned
    postings read, both key fields from the fields sidecar; the bucket
    rollup is one map-side-combinable groupBy and only the bucket table
    (#langs x #sources, never the hit set) passes through ranked_topk's
    bounded TakeOrdered + k-survivor window."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import boolean_match, field_values

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    langs = field_values(spark, ix, "lang").select(
        "doc_id", F.col("value").alias("lang")
    )
    srcs = field_values(spark, ix, "source").select(
        "doc_id", F.col("value").alias("source")
    )
    buckets = (
        hits.join(langs, "doc_id")
        .join(srcs, "doc_id")
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    return ranked_topk(
        buckets, [F.desc("n_docs"), F.asc("lang"), F.asc("source")], k
    ).select("lang", "source", "n_docs", "rank")


# --------------------------------------------------------------- rare terms
RARE_MAX_DF_FRACTION = 0.5  # rare = appears in at most half the corpus
RARE_TERMS_K = 20


def rare_terms_agg(
    spark: SparkSession,
    sf_dir: str,
    max_df_fraction: float = RARE_MAX_DF_FRACTION,
    k: int = RARE_TERMS_K,
) -> DataFrame:
    """ES `rare_terms` aggregation parity: dictionary terms whose doc
    frequency is at most `max_df_fraction` of the corpus, rarest first
    (df asc, term asc). ES's max_doc_count is absolute; the gate uses a
    fractional cutoff so the same parameters stay selective at every
    scale factor. Reads only the term-dictionary sidecar plus a one-row
    corpus count — no postings, no corpus scan; the survivor set is
    cutoff-bounded before the ranked_topk window."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import live_doclens

    ix = _gate_index(spark, sf_dir)
    dic = _dictionary_stats(spark, ix).select("term", "df")
    n = live_doclens(spark, ix).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs")
    )
    rare = dic.crossJoin(F.broadcast(n)).filter(
        F.col("df").cast("double") <= F.lit(max_df_fraction) * F.col("n_docs")
    )
    return ranked_topk(rare, [F.asc("df"), F.asc("term")], k).select(
        "term", "df", "rank"
    )


# ------------------------------------------------------------------- pinned
PINNED_N = 2  # the gate pins the two smallest doc_ids (stand-in id list)


def pinned_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    n_pinned: int = PINNED_N,
    k: int = 10,
) -> DataFrame:
    """ES `pinned` query parity: editorially promoted ids rank ahead of
    the organic hits, in their given order, deduplicated from the
    organic tail. The gate's id list is 'the n_pinned smallest live
    doc_ids' (a deterministic stand-in for a literal id list — static
    ids can't survive scale-factor changes); organic = the exact BM25
    index path with pinned ids anti-joined out. Ranks, not scores, are
    the output — ES gives pinned hits artificial sort values. Both
    ranking windows are bounded (n_pinned and k survivors)."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, live_doclens

    ix = _gate_index(spark, sf_dir)
    pinned = ranked_topk(
        live_doclens(spark, ix).select("doc_id"), [F.asc("doc_id")], n_pinned
    ).select("doc_id", F.col("rank").alias("pos"), F.lit(1).alias("pinned"))
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    organic = (
        bm25_scores(spark, ix, queries, round_to=6)
        .join(F.broadcast(pinned.select("doc_id")), "doc_id", "left_anti")
    )
    org_top = ranked_topk(
        organic, [F.desc("score"), F.asc("doc_id")], k - n_pinned
    ).select(
        "doc_id",
        (F.col("rank") + n_pinned).alias("pos"),
        F.lit(0).alias("pinned"),
    )
    return (
        pinned.unionByName(org_top)
        .select(F.col("pos").alias("rank"), "doc_id", "pinned")
        .orderBy("rank")
    )


# --------------------------------------------------------- span containing
SPAN_CONTAINING = ("scan", "sort", 6, "table")  # big = Near(a,b,slop); little = c


def span_containing_query(
    spark: SparkSession,
    sf_dir: str,
    a: str = SPAN_CONTAINING[0],
    b: str = SPAN_CONTAINING[1],
    dist: int = SPAN_CONTAINING[2],
    c: str = SPAN_CONTAINING[3],
) -> DataFrame:
    """SpanContainingQuery parity — big=SpanNear(a, b, slop, unordered)
    spans that CONTAIN an occurrence of little=c. Where span_within
    answers 'which docs have a little inside some big', containing
    enumerates the BIG side: per doc, the number of a-anchored (a, b)
    envelopes at most `dist` apart that hold a `c` — the span-count face
    Lucene's weight exposes. Three pruned positional-sidecar reads; the
    counting is pure codegen size/filter/exists over position arrays."""
    from lucene_mapreduce_spark.query.segments import read_positions

    ix = _gate_index(spark, sf_dir)
    pos = read_positions(spark, ix, sorted({a, b, c}))

    def arm(t: str, name: str) -> DataFrame:
        return pos.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(name)
        )

    j = arm(a, "pa").join(arm(b, "pb"), "doc_id").join(arm(c, "pc"), "doc_id")
    n_spans = F.size(
        F.filter(
            "pa",
            lambda i: F.exists(
                "pb",
                lambda jj: (F.abs(i - jj) <= F.lit(dist))
                & F.exists(
                    "pc",
                    lambda p: (p >= F.least(i, jj)) & (p <= F.greatest(i, jj)),
                ),
            ),
        )
    )
    return (
        j.select("doc_id", n_spans.cast("long").alias("n_spans"))
        .filter(F.col("n_spans") > 0)
        .orderBy("doc_id")
    )


# ------------------------------------------------------------- rank feature
RANK_FEATURE = (256.0, 2.0)  # pivot, weight — saturation on n_chars


def rank_feature_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    pivot: float = RANK_FEATURE[0],
    weight: float = RANK_FEATURE[1],
    k: int = 10,
) -> DataFrame:
    """ES `rank_feature` query parity (saturation function, the default):
    score = BM25 + weight * x / (x + pivot) over the indexed n_chars
    field — ADDITIVE, the bool-should composition ES documents, unlike
    the multiplicative function_score twin. Field values ride the fields
    sidecar's num_value face, BM25 is the exact unranked index path,
    only fused rows rank (bounded ranked_topk window)."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, field_num_values

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    base = bm25_scores(spark, ix, queries).select("doc_id", "score")
    nums = field_num_values(spark, ix, "n_chars")
    x = F.col("num_value").cast("double")
    fused = base.join(nums, "doc_id").select(
        "doc_id",
        F.round(
            F.col("score") + F.lit(weight) * x / (x + F.lit(pivot)), 6
        ).alias("score"),
    )
    return ranked_topk(fused, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# --------------------------------------------------------- distance feature
DISTANCE_FEATURE = (300.0, 50.0, 1.5)  # origin, pivot, weight on n_chars


def distance_feature_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    origin: float = DISTANCE_FEATURE[0],
    pivot: float = DISTANCE_FEATURE[1],
    weight: float = DISTANCE_FEATURE[2],
    k: int = 10,
) -> DataFrame:
    """ES `distance_feature` query parity: score = BM25 + weight *
    pivot / (pivot + |x - origin|) — the recency/proximity booster
    (score halves one pivot away from origin), additive like
    rank_feature but peaked at origin rather than saturating. Same
    fields-sidecar + exact-BM25 + bounded-ranking shape as its
    siblings."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, field_num_values

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    base = bm25_scores(spark, ix, queries).select("doc_id", "score")
    nums = field_num_values(spark, ix, "n_chars")
    x = F.col("num_value").cast("double")
    fused = base.join(nums, "doc_id").select(
        "doc_id",
        F.round(
            F.col("score")
            + F.lit(weight) * F.lit(pivot) / (F.lit(pivot) + F.abs(x - F.lit(origin))),
            6,
        ).alias("score"),
    )
    return ranked_topk(fused, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# -------------------------------------------------- sharded terms accounting
TERMS_SHARD_N = 4  # simulated shards (doc_id mod N)
TERMS_SHARD_SIZE = 3  # per-shard candidate list length
TERMS_SHARD_K = 5


def terms_shard_approx(
    spark: SparkSession,
    sf_dir: str,
    n_shards: int = TERMS_SHARD_N,
    shard_size: int = TERMS_SHARD_SIZE,
    k: int = TERMS_SHARD_K,
) -> DataFrame:
    """ES `terms` aggregation DISTRIBUTED accounting parity: each shard
    reports only its top shard_size buckets, the coordinator sums the
    reported counts and publishes doc_count_error_upper_bound = the sum,
    over shards that did NOT report a bucket, of that shard's last
    (shard_size-th) reported count — the exact ES error-bound algorithm,
    the part of a terms agg that only exists because execution is
    sharded. Shards are doc_id mod n_shards over the fields sidecar's
    source face; per-shard ranking windows partition BY SHARD; every
    later frame (reported lists, shard tails, candidates) is
    shard_size x n_shards-bounded and broadcast."""
    from pyspark.sql import Window

    from lucene_mapreduce_spark.query.segments import field_values

    ix = _gate_index(spark, sf_dir)
    srcs = field_values(spark, ix, "source").select(
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("long").alias("shard"),
        F.col("value").alias("source"),
    )
    per_shard = srcs.groupBy("shard", "source").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("shard").orderBy(F.desc("cnt"), F.asc("source"))
    reported = per_shard.withColumn("pos", F.row_number().over(w)).filter(
        F.col("pos") <= shard_size
    )
    tails = reported.groupBy("shard").agg(F.min("cnt").alias("tail"))
    merged = reported.groupBy("source").agg(F.sum("cnt").alias("doc_count"))
    missing = (
        merged.select("source")
        .crossJoin(F.broadcast(tails))
        .join(reported.select("shard", "source"), ["shard", "source"], "left_anti")
    )
    errs = missing.groupBy("source").agg(F.sum("tail").alias("err"))
    out = merged.join(F.broadcast(errs), "source", "left").select(
        "source",
        "doc_count",
        F.coalesce("err", F.lit(0)).cast("long").alias(
            "doc_count_error_upper_bound"
        ),
    )
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    return ranked_topk(
        out, [F.desc("doc_count"), F.asc("source")], k
    ).select("source", "doc_count", "doc_count_error_upper_bound", "rank")


# ------------------------------------------------------- diversified sampler
DIVERSIFIED_MAX_PER_SOURCE = 2


def diversified_sampler_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    max_per_key: int = DIVERSIFIED_MAX_PER_SOURCE,
    k: int = 10,
) -> DataFrame:
    """ES `diversified_sampler` aggregation parity: the relevance top-k
    under a diversity constraint — at most max_per_key hits per source
    survive before the global cut, so one boilerplate-heavy host can't
    monopolize the page. The per-source de-duplication window partitions
    BY SOURCE (parallel, WindowGroupLimit-prunable); only the survivors
    (≤ max_per_key x n_sources) pass through the bounded global
    ranked_topk."""
    from pyspark.sql import Window

    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, field_values

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    scored = bm25_scores(spark, ix, queries, round_to=6).select("doc_id", "score")
    srcs = field_values(spark, ix, "source").select(
        "doc_id", F.col("value").alias("source")
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    kept = (
        scored.join(srcs, "doc_id")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= max_per_key)
        .drop("pos")
    )
    return ranked_topk(kept, [F.desc("score"), F.asc("doc_id")], k).select(
        "source", "doc_id", "score", "rank"
    )


# ------------------------------------------------------------ span multi
SPAN_MULTI = ("sl", "join", 4)  # prefix, anchor term, max distance


def span_multi_near_query(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = SPAN_MULTI[0],
    anchor: str = SPAN_MULTI[1],
    dist: int = SPAN_MULTI[2],
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """SpanMultiTermQueryWrapper parity: SpanNear(SpanMulti(prefix*),
    anchor, slop, unordered) — docs where ANY dictionary expansion of the
    prefix occurs within `dist` positions of the anchor term. The prefix
    expands against the term dictionary under the TOP_TERMS cap (the same
    bounded rewrite as prefix_query); the positional check is one pruned
    positions read over expansions+anchor and a codegen exists² over
    position arrays, grouped per doc so multiple matching expansions
    count once."""
    from lucene_mapreduce_spark.query.segments import read_positions

    ix = _gate_index(spark, sf_dir)
    cands = _index_vocab(spark, ix).filter(F.col("term").startswith(prefix))
    expanded = _expand_capped(cands, max_expansions)
    if not expanded:
        return spark.createDataFrame([], "doc_id long")
    pos = read_positions(spark, ix, sorted(set(expanded) | {anchor}))
    multi = pos.filter(F.col("term").isin(expanded)).select(
        "doc_id", F.col("positions").alias("pm")
    )
    anch = pos.filter(F.col("term") == anchor).select(
        "doc_id", F.col("positions").alias("pa")
    )
    hit = F.exists(
        "pm",
        lambda i: F.exists("pa", lambda j: F.abs(i - j) <= F.lit(dist)),
    )
    return (
        multi.join(anch, "doc_id")
        .filter(hit)
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )


# ------------------------------------------------------- search-as-you-type
SAYT_INPUT = ("slow", "jo")  # completed terms + trailing prefix


def search_as_you_type(
    spark: SparkSession,
    sf_dir: str,
    full_terms: str = SAYT_INPUT[0],
    prefix: str = SAYT_INPUT[1],
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES search_as_you_type / match_bool_prefix parity: every completed
    term matches normally, the trailing partial term matches as a prefix;
    ranking is BM25 over the completed terms, the prefix clause is a
    FILTER (its expansion set is unstable mid-keystroke, so ES doesn't
    let it move scores). Prefix expansion = the capped dictionary rewrite;
    the filter leg is a distinct-doc semi-join on the expansions'
    postings."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, read_postings

    ix = _gate_index(spark, sf_dir)
    cands = _index_vocab(spark, ix).filter(F.col("term").startswith(prefix))
    expanded = _expand_capped(cands, max_expansions)
    if not expanded:
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    queries = spark.createDataFrame(
        [("q0", full_terms)], "query_id string, query_text string"
    )
    scored = bm25_scores(spark, ix, queries, round_to=6).select("doc_id", "score")
    has_prefix = read_postings(spark, ix, expanded).select("doc_id").distinct()
    kept = scored.join(has_prefix, "doc_id", "left_semi")
    return ranked_topk(kept, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# ---------------------------------------------------------- combined fields
CF_QUERY = BM25F_QUERY  # 'src3' again hits only the keyword field
CF_W = (1.0, 2.0)  # per-field weights (ES requires >= 1)


def combined_fields_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = CF_QUERY,
    kw_field: str = "source",
    w_text: float = CF_W[0],
    w_kw: float = CF_W[1],
    k: int = 10,
) -> DataFrame:
    """ES `combined_fields` query: term-centric multi-field scoring that
    treats the fields as ONE merged pseudo-field (the BM25F sibling with
    a SHARED length norm instead of per-field norms): tf_c = sum_f
    w_f*tf_f, dl_c = sum_f w_f*len_f, avgdl_c likewise, one BM25
    saturation over the combined tf. df is any-field df. The keyword
    field contributes len 1 to every doc, so avgdl_c = w_text*avgdl +
    w_kw — a manifest scalar, no extra pass. Same pruned-index reads as
    bm25f_topk; scoring is one canonical ascending-term fold."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.bm25 import B, K1
    from lucene_mapreduce_spark.query.segments import (
        exact_stats,
        field_values,
        live_doclens,
        read_postings,
    )

    ix = _gate_index(spark, sf_dir)
    terms = sorted(set(tokenize_string(query_text)))
    n_docs, avgdl = exact_stats(spark, ix)
    avgdl_c = float(w_text) * float(avgdl) + float(w_kw)
    tp = read_postings(spark, ix, terms).select(
        "term", "doc_id", F.col("tf").alias("tf_text")
    )
    kv = (
        field_values(spark, ix, kw_field)
        .filter(F.col("value").isin(terms))
        .select(F.col("value").alias("term"), "doc_id", F.lit(1).alias("tf_kw"))
    )
    m = tp.join(kv, ["term", "doc_id"], "full").select(
        "term",
        "doc_id",
        F.coalesce(F.col("tf_text"), F.lit(0)).cast("double").alias("tf_text"),
        F.coalesce(F.col("tf_kw"), F.lit(0)).cast("double").alias("tf_kw"),
    )
    dls = live_doclens(spark, ix).select("doc_id", "dl")
    m = m.join(dls, "doc_id", "left").withColumn(
        "dl", F.coalesce(F.col("dl"), F.lit(0)).cast("double")
    )
    dfa = m.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df_any"))
    tfc = F.lit(float(w_text)) * F.col("tf_text") + F.lit(float(w_kw)) * F.col(
        "tf_kw"
    )
    dlc = F.lit(float(w_text)) * F.col("dl") + F.lit(float(w_kw))
    norm = F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * dlc / F.lit(avgdl_c)
    )
    idf = bm25_idf_col("df_any", n_docs)
    contribs = m.join(F.broadcast(dfa), "term").select(
        "doc_id",
        "term",
        (idf * tfc * F.lit(K1 + 1.0) / (tfc + norm)).alias("contrib"),
    )
    per_doc = contribs.groupBy("doc_id").agg(
        F.round(canonical_sum("contrib", "term"), 6).alias("score")
    )
    return ranked_topk(per_doc, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


# ------------------------------------------------------------------ rank eval
RANK_EVAL_K = 10
RANK_EVAL_MIN_TERMS = 3  # rel = distinct query terms matched - (min-1)


def rank_eval(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = RANK_EVAL_K,
    min_terms: int = RANK_EVAL_MIN_TERMS,
) -> DataFrame:
    """ES `rank_eval` API: precision@k, MRR@k and NDCG@k of the engine's
    own BM25 top-k against graded relevance labels. Labels are derived,
    not hand-curated: rel(doc) = max(0, distinct query terms present -
    (min_terms-1)) — docs holding >= min_terms of the query's terms are
    relevant, all of them graded 1..(n_terms-min_terms+1). Gains are
    (2^rel - 1); DCG terms are 6dp-rounded then DECIMAL-summed
    (order-free exact over the k ranks); IDCG ranks the global label
    multiset through the bounded ranked_topk. One index-backed ranking +
    one tokenised-corpus label scan — the offline search-quality job at
    any scale."""
    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    terms = sorted(set(tokenize_string(query_text)))
    page = bm25_topk_documents(spark, sf_dir, query_text, k=k).select(
        "doc_id", "rank"
    )
    docs = load(spark, sf_dir, "documents")
    tarr = F.array(*[F.lit(t) for t in terms])
    nmatch = F.size(F.array_intersect(tarr, tokenize_col("text")))
    rels = docs.select(
        "doc_id",
        F.greatest(
            nmatch - F.lit(min_terms - 1), F.lit(0)
        ).cast("long").alias("rel"),
    )
    gain = F.pow(F.lit(2.0), F.col("rel").cast("double")) - F.lit(1.0)
    disc = F.log2(F.col("rank").cast("double") + F.lit(1.0))
    page_dcg = (
        page.join(rels, "doc_id", "left")
        .na.fill({"rel": 0})
        .select(
            F.col("rel"),
            F.round(gain / disc, 6).cast("decimal(18,6)").alias("dg"),
            F.when(F.col("rel") > 0, 1).otherwise(0).alias("is_rel"),
            F.when(F.col("rel") > 0, F.col("rank")).alias("rel_rank"),
        )
        .agg(
            F.round(F.sum("dg").cast("double"), 6).alias("dcg"),
            F.round(
                F.sum("is_rel").cast("double") / F.lit(float(k)), 6
            ).alias("precision"),
            F.round(
                F.coalesce(
                    F.lit(1.0) / F.min("rel_rank").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("mrr"),
        )
    )
    ideal = ranked_topk(
        rels.filter(F.col("rel") > 0),
        [F.desc("rel"), F.asc("doc_id")],
        k,
        rank_col="irank",
    ).select(
        F.round(
            (F.pow(F.lit(2.0), F.col("rel").cast("double")) - F.lit(1.0))
            / F.log2(F.col("irank").cast("double") + F.lit(1.0)),
            6,
        )
        .cast("decimal(18,6)")
        .alias("idg")
    )
    idcg = ideal.agg(F.round(F.sum("idg").cast("double"), 6).alias("idcg"))
    return page_dcg.crossJoin(F.broadcast(idcg)).select(
        "precision",
        "mrr",
        "dcg",
        "idcg",
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
    )


# ----------------------------------------------------------------- mget
MGET_N = 5  # GET the n smallest doc ids (literal ids can't survive sf)


def mget_docstore(
    spark: SparkSession, sf_dir: str, n: int = MGET_N
) -> DataFrame:
    """ES mget / Lucene stored-fields GET: fetch the stored fields of an
    explicit id set straight from the docstore sidecar — no scoring, no
    tokenization, the point-lookup API every serving layer needs. The id
    list is literal in the plan, so the parquet scan prunes to the row
    groups whose doc_id min/max overlap (PushedFilters: In) — at 100 TB
    this touches a handful of pages, not the corpus. Ids here = the n
    smallest doc_ids (pinned_query's trick: ids that exist at every sf);
    text returns as an md5 witness to keep the gate row light."""
    import os

    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir

    ix = _gate_index(spark, sf_dir)
    m = load_manifest(ix)
    assert m is not None and all(s.has_docstore for s in m.segments)
    stores = [
        os.path.join(segment_dir(ix, s.segment_id), "docstore")
        for s in m.ordered()
    ]
    assert len(stores) == 1, "mget expects the merged gate index"
    store = spark.read.parquet(stores[0])
    ids = [
        r.doc_id
        for r in store.select("doc_id").orderBy("doc_id").limit(n).collect()
    ]
    return (
        store.filter(F.col("doc_id").isin(ids))
        .select(
            "doc_id",
            "lang",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.md5("text").alias("text_md5"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------------- intervals
INTERVALS = ("table", ("scan", "merge"), 2)  # t1, any_of, max_gaps


def intervals_query(
    spark: SparkSession,
    sf_dir: str,
    first: str = INTERVALS[0],
    any_of: tuple[str, str] = INTERVALS[1],
    max_gaps: int = INTERVALS[2],
) -> DataFrame:
    """ES `intervals` query: all_of(ordered=true, max_gaps) over
    [term, any_of(t2, t3)] — `first` must be followed by EITHER
    alternative within max_gaps intervening tokens (q - p - 1 <=
    max_gaps, q > p). Ordered-with-gap-budget distinguishes it from the
    unordered span family; the any_of leg flattens two position arrays.
    Two pruned positional-sidecar reads + one codegen exists² — same
    distributed shape as every span operator."""
    from lucene_mapreduce_spark.query.segments import read_positions

    ix = _gate_index(spark, sf_dir)
    pos = read_positions(spark, ix, sorted({first, *any_of}))
    p1 = pos.filter(F.col("term") == first).select(
        "doc_id", F.col("positions").alias("p1")
    )
    alts = (
        pos.filter(F.col("term").isin(list(any_of)))
        .groupBy("doc_id")
        .agg(F.flatten(F.collect_list("positions")).alias("palt"))
    )
    j = p1.join(alts, "doc_id")
    hit = F.exists(
        "p1",
        lambda p: F.exists(
            "palt",
            lambda q: (q > p) & (q - p - F.lit(1) <= F.lit(max_gaps)),
        ),
    )
    return j.filter(hit).select("doc_id").orderBy("doc_id")


# ------------------------------------------------------------ terms lookup
def terms_lookup_query(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """ES `terms` query with TERMS LOOKUP: the term list is not literal
    — it's fetched from another document's field (here: the corpus's
    smallest doc_id), then every doc sharing any of those terms matches,
    ranked by how many DISTINCT lookup terms it shares (doc_id-asc
    ties). Fully distributed: the lookup doc's token set is a one-row
    frame broadcast into a semi-join against the exploded corpus —
    no driver-side term materialization, unlike the capped literal
    expansions. The lookup doc itself reports first (it shares all its
    terms)."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    docs = load(spark, sf_dir, "documents")
    lookup_id = docs.agg(F.min("doc_id").alias("lid"))
    lookup_terms = (
        docs.join(F.broadcast(lookup_id), docs.doc_id == F.col("lid"))
        .select(F.explode(F.array_distinct(tokenize_col("text"))).alias("term"))
    )
    corpus = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize_col("text"))).alias("term")
    )
    hits = (
        corpus.join(F.broadcast(lookup_terms), "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    return ranked_topk(hits, [F.desc("n_shared"), F.asc("doc_id")], k).select(
        "doc_id", "n_shared", "rank"
    )


# ------------------------------------------------------------ runtime field
def runtime_field_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
) -> DataFrame:
    """ES runtime_mappings / script_fields: a per-hit computed field
    (chars per token) evaluated AT QUERY TIME in the plan — never
    materialized in the index. The runtime expression runs only over the
    k result docs' stored fields (docstore read of the page), which is
    exactly ES's contract: runtime fields cost per-hit, not per-doc."""
    import os

    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir

    ix = _gate_index(spark, sf_dir)
    topk = bm25_index_topk_documents(spark, sf_dir, query_text, k)
    m = load_manifest(ix)
    stores = [
        os.path.join(segment_dir(ix, s.segment_id), "docstore")
        for s in m.ordered()
    ]
    assert len(stores) == 1, "runtime fields expect the merged gate index"
    fields = spark.read.parquet(stores[0]).select(
        "doc_id",
        F.round(
            F.col("n_chars").cast("double")
            / F.size(tokenize_col("text")).cast("double"),
            6,
        ).alias("chars_per_token"),
    )
    return topk.join(fields, "doc_id").select(
        "doc_id", "score", "rank", "chars_per_token"
    ).orderBy("rank")


# ELSER/SPLADE-shaped weighted-token query: per-mille integer weights keep
# every score an exact BIGINT (score = sum over occurrences of w[token]).
SPARSE_QUERY_WEIGHTS = {"merge": 2500, "spark": 1800, "scan": 1200, "window": 700}
SPARSE_TOPK = 10


def sparse_vector_topk(
    spark: SparkSession,
    sf_dir: str,
    weights: dict[str, int] | None = None,
    k: int = SPARSE_TOPK,
) -> DataFrame:
    """ES `sparse_vector` / weighted-tokens query (the learned-sparse
    ELSER/SPLADE serving shape): score(doc) = sum over query tokens of
    w_q(token) x tf(token, doc). Per-mille integer weights make the
    score an exact BIGINT — rank ties break on doc_id identically in
    both engines. One tokenize scan, token-level weight lookup folded
    into the explode (summing w per OCCURRENCE equals w x tf), one
    combinable groupBy, bounded top-k."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    w = weights or SPARSE_QUERY_WEIGHTS
    docs = load(spark, sf_dir, "documents")
    tok = F.explode(tokenize_col("text")).alias("term")
    weight = F.lit(None).cast("long")
    expr = None
    for t, wt in sorted(w.items()):
        expr = (
            F.when(F.col("term") == t, F.lit(wt))
            if expr is None
            else expr.when(F.col("term") == t, F.lit(wt))
        )
    occ = (
        docs.select("doc_id", tok)
        .filter(F.col("term").isin(sorted(w)))
        .select("doc_id", expr.otherwise(F.lit(0)).cast("long").alias("w"))
    )
    scored = occ.groupBy("doc_id").agg(
        F.sum("w").cast("long").alias("score_milli")
    )
    out = ranked_topk(scored, [F.desc("score_milli"), F.asc("doc_id")], k)
    return out.select(
        "doc_id",
        "score_milli",
        F.round(F.col("score_milli").cast("double") / F.lit(1000.0), 6).alias(
            "score"
        ),
        "rank",
    )


SIGTEXT_TERM = "stream"
SIGTEXT_K = 10
SIGTEXT_MIN_DF = 3


def significant_text_agg(
    spark: SparkSession,
    sf_dir: str,
    term: str = SIGTEXT_TERM,
    k: int = SIGTEXT_K,
    min_df: int = SIGTEXT_MIN_DF,
) -> DataFrame:
    """ES `significant_text` aggregation with filter_duplicate_text=true:
    like significant_terms, but re-analyzes the _source text and DEDUPES
    exact duplicate texts first (boilerplate/mirror pages would otherwise
    manufacture significance — the reason ES added the flag). Dedup keeps
    the min doc_id per md5(text) (one hash-partitioned window); the
    foreground is a text containment match (no index needed — ES runs
    this on sampled hits), and both df sides are one explode+groupBy over
    the deduped corpus. Lift = (df_fg/n_fg)/(df_bg/n_bg), 6dp."""
    from pyspark.sql import Window

    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    wdup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dd = (
        docs.withColumn("rn", F.row_number().over(wdup))
        .filter(F.col("rn") == 1)
        .select("doc_id", tokenize_col("text").alias("toks"))
    )
    dd = dd.withColumn("is_fg", F.array_contains("toks", term))
    counts = dd.agg(
        F.count(F.lit(1)).alias("n_bg"),
        F.sum(F.col("is_fg").cast("long")).alias("n_fg"),
    ).collect()[0]
    n_bg, n_fg = int(counts["n_bg"]), int(counts["n_fg"])
    pairs = dd.select(
        "doc_id", "is_fg", F.explode(F.array_distinct("toks")).alias("term")
    )
    stats = pairs.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df_bg"),
        F.sum(F.col("is_fg").cast("long")).cast("long").alias("df_fg"),
    )
    lifted = (
        stats.filter((F.col("term") != term) & (F.col("df_fg") >= min_df))
        .withColumn(
            "lift",
            F.round(
                (F.col("df_fg") / F.lit(float(n_fg)))
                / (F.col("df_bg") / F.lit(float(n_bg))),
                6,
            ),
        )
    )
    return ranked_topk(lifted, [F.desc("lift"), F.asc("term")], k).select(
        "term", "df_fg", "df_bg", "lift", "rank"
    )


EXISTS_FIELD_VALUES = ("customer", "vector")  # sparse extracted keyword field


def exists_query(
    spark: SparkSession,
    sf_dir: str,
    values: tuple[str, str] = EXISTS_FIELD_VALUES,
) -> DataFrame:
    """ES `exists` / `missing` query over a SPARSE field: documents only
    carry the keyword field when extraction found one of the pinned
    values in the text (how sparse fields arise in real mappings — the
    indexer skips docs with nothing to index). Reports exists/missing
    counts per lang: one tokenize scan, containment CASE (no regex —
    regex no-match semantics differ cross-engine), one combinable
    groupBy."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    a, b = values
    docs = load(spark, sf_dir, "documents")
    toks = tokenize_col("text")
    fld = (
        F.when(F.array_contains(toks, a), F.lit(a))
        .when(F.array_contains(toks, b), F.lit(b))
        .otherwise(F.lit(None).cast("string"))
    )
    return (
        docs.select("lang", fld.alias("fld"))
        .groupBy("lang")
        .agg(
            F.sum(F.col("fld").isNotNull().cast("long")).cast("long").alias("n_exists"),
            F.sum(F.col("fld").isNull().cast("long")).cast("long").alias("n_missing"),
        )
        .orderBy("lang")
    )


DFR_INV_LN2 = 1.4426950408889634  # shared literal: 1/ln(2), both engines


def dfr_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
) -> DataFrame:
    """Lucene DFRSimilarity(BasicModelIF, AfterEffectL, NormalizationH2
    c=1) parity — the divergence-from-randomness member of the similarity
    family (BM25 / classic TF-IDF / LMDirichlet / LMJelinekMercer / BM25F
    are the others):

        tfn     = tf · log2(1 + avgdl/dl)          (H2, c=1)
        info    = log2(1 + (N+1)/(cf_t + 0.5))      (IF)
        contrib = tfn · info / (1 + tfn)            (L after-effect)

    log2 is ln·(1/ln 2) with the multiplier a SHARED Python literal —
    each engine's own log2() is not guaranteed the same ulp. N/avgdl come
    off the merged manifest's columnar segment stats (no corpus scan);
    cf_t is one aggregate over the pruned query-term postings; per-doc
    sums are canonical ascending-term accumulation, rounded 6dp."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    m = load_manifest(ix)
    segs = m.ordered()
    n_docs = float(sum(s.n_docs for s in segs))
    avgdl = float(sum(s.total_tokens for s in segs)) / n_docs
    qts = sorted(set(tokenize_string(query_text)))
    posts = read_postings(spark, ix, qts)
    cf = posts.groupBy("term").agg(F.sum("tf").cast("double").alias("cf_t"))
    j = posts.join(F.broadcast(cf), "term")
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    tfn = tf * (F.log(F.lit(1.0) + F.lit(avgdl) / dl) * F.lit(DFR_INV_LN2))
    info = (
        F.log(F.lit(1.0) + F.lit(n_docs + 1.0) / (F.col("cf_t") + F.lit(0.5)))
        * F.lit(DFR_INV_LN2)
    )
    contrib = tfn * info / (F.lit(1.0) + tfn)
    scored = j.select("doc_id", "term", contrib.alias("contrib"))
    agg = scored.groupBy("doc_id").agg(
        F.round(canonical_sum("contrib", "term"), 6).alias("score")
    )
    return ranked_topk(agg, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


def dfi_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
) -> DataFrame:
    """Lucene DFISimilarity(IndependenceChiSquared) parity — divergence
    from independence (Kocabas, Dincer, Karaoglan 2014; the last member
    of Lucene's core similarity family not yet covered):

        expected = (cf_t + 1) * dl / (total_tokens + 1)
        contrib  = 0                       if tf <= expected
                 = log2(1 + (tf-expected)^2 / expected)  otherwise

    log2 = ln * DFR_INV_LN2 (shared literal, same rationale as dfr_topk).
    Docs whose every term contributes 0 are dropped (score must be > 0),
    matching Lucene's WAND-compatible non-negative-score contract.
    N/total_tokens come off the merged manifest's columnar segment stats;
    per-doc sums are canonical ascending-term accumulation, rounded 6dp.
    Reference parity anchor: the scoring seam the reference feeds from its
    reducer-merged index (IndexBuilderReducer.java:120-160)."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    m = load_manifest(ix)
    total = float(sum(s.total_tokens for s in m.ordered()))
    qts = sorted(set(tokenize_string(query_text)))
    posts = read_postings(spark, ix, qts)
    cf = posts.groupBy("term").agg(F.sum("tf").cast("double").alias("cf_t"))
    j = posts.join(F.broadcast(cf), "term")
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    expected = (F.col("cf_t") + F.lit(1.0)) * dl / F.lit(total + 1.0)
    chi2 = (tf - expected) * (tf - expected) / expected
    contrib = F.when(tf <= expected, F.lit(0.0)).otherwise(
        F.log(F.lit(1.0) + chi2) * F.lit(DFR_INV_LN2)
    )
    scored = j.select("doc_id", "term", contrib.alias("contrib"))
    agg = (
        scored.groupBy("doc_id")
        .agg(F.round(canonical_sum("contrib", "term"), 6).alias("score"))
        .where(F.col("score") > 0.0)
    )
    return ranked_topk(agg, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


AXIOMATIC_S = 0.5  # F2EXP length-normalization s (Lucene default)
# Lucene's AxiomaticF2EXP defaults k=0.35; k is a constructor parameter and
# we pin k=0.5 so idf = sqrt((N+1)/df) — sqrt is correctly-rounded IEEE in
# both engines while pow(x, 0.35) is not (same determinism trade as
# temperature_mixture_weights' alpha=0.5).
AXIOMATIC_K = 0.5


def axiomatic_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
) -> DataFrame:
    """Lucene AxiomaticF2EXP parity (Fang & Zhai 2005 axiomatic retrieval;
    Lucene's Axiomatic similarity family):

        tfln = tf / (tf + s + s * dl/avgdl)        (s = 0.5)
        idf  = ((N+1)/df_t) ^ k                    (k pinned 0.5 => sqrt)
        contrib = tfln * idf

    df_t is one aggregate over the pruned query-term postings; N/avgdl off
    the manifest stats. Canonical ascending-term sums, rounded 6dp."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    m = load_manifest(ix)
    segs = m.ordered()
    n_docs = float(sum(s.n_docs for s in segs))
    avgdl = float(sum(s.total_tokens for s in segs)) / n_docs
    qts = sorted(set(tokenize_string(query_text)))
    posts = read_postings(spark, ix, qts)
    df = posts.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df_t"))
    j = posts.join(F.broadcast(df), "term")
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    tfln = tf / (tf + F.lit(AXIOMATIC_S) + F.lit(AXIOMATIC_S) * dl / F.lit(avgdl))
    idf = F.sqrt(F.lit(n_docs + 1.0) / F.col("df_t"))
    contrib = tfln * idf
    scored = j.select("doc_id", "term", contrib.alias("contrib"))
    agg = scored.groupBy("doc_id").agg(
        F.round(canonical_sum("contrib", "term"), 6).alias("score")
    )
    return ranked_topk(agg, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


KMV_LANG_A = "en"
KMV_LANG_B = "es"


def kmv_intersection(
    spark: SparkSession,
    sf_dir: str,
    lang_a: str = KMV_LANG_A,
    lang_b: str = KMV_LANG_B,
    k: int = KMV_K,
) -> DataFrame:
    """Theta-sketch set intersection over two per-language vocabularies
    (Dasgupta et al. 2016, the DataSketches theta sketch — public): KMV
    sketch each side (k smallest 52-bit md5 hashes of the distinct
    tokens), set theta = min(kth_a, kth_b), and estimate the
    intersection cardinality as |{h in BOTH sketches, h < theta}| *
    2^52 / theta. The exact intersection rides alongside as the witness
    column (dropped at 10^12 scale — the sketches ARE the point: two
    TakeOrdered heaps replace a cross-vocabulary distinct-join).

    The per-side k-smallest is a rank-capped window PARTITIONED by side
    (map-side WindowGroupLimit prunes before the shuffle); the hash
    join of two k-row sets is broadcast trivially."""
    from lucene_mapreduce_spark.operators.parity import load
    from lucene_mapreduce_spark.operators.textstats import _md5_52
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    terms = (
        docs.where(F.col("lang").isin([lang_a, lang_b]))
        .select("lang", F.explode(tokenize_col("text")).alias("term"))
        .distinct()
        .select("lang", _md5_52(F.col("term")).alias("h"))
    )
    w = Window.partitionBy("lang").orderBy(F.asc("h"))
    sk = terms.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    kths = sk.groupBy("lang").agg(F.max("h").alias("kth"))
    a = kths.where(F.col("lang") == lang_a).select(F.col("kth").alias("kth_a"))
    b = kths.where(F.col("lang") == lang_b).select(F.col("kth").alias("kth_b"))
    pair = a.crossJoin(b).select(
        "kth_a", "kth_b", F.least("kth_a", "kth_b").alias("theta")
    )
    both = (
        sk.where(F.col("lang") == lang_a)
        .select("h")
        .join(sk.where(F.col("lang") == lang_b).select("h"), "h")
    )
    n_match = both.crossJoin(F.broadcast(pair)).where(
        F.col("h") < F.col("theta")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_match"))
    exact = (
        docs.where(F.col("lang") == lang_a)
        .select(F.explode(tokenize_col("text")).alias("term"))
        .distinct()
        .join(
            docs.where(F.col("lang") == lang_b)
            .select(F.explode(tokenize_col("text")).alias("term"))
            .distinct(),
            "term",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    return (
        pair.crossJoin(F.broadcast(n_match))
        .crossJoin(F.broadcast(exact))
        .select(
            "kth_a",
            "kth_b",
            "theta",
            "n_match",
            F.round(
                F.col("n_match").cast("double")
                * F.lit(float(1 << 52))
                / F.col("theta").cast("double"),
                6,
            ).alias("est_intersection"),
            "n_exact",
        )
    )


PRF_FEEDBACK_K = 10  # feedback depth (stage-1 top-k)
PRF_EXPANSION_N = 3  # expansion terms appended to the query
PRF_EXP_WEIGHT = 0.5  # expansion-term weight (originals weigh 1.0)


def rocchio_prf_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio 1971 / RM3 shape — Lucene's
    QueryRescorer + MoreLikeThis territory, the classic two-pass IR
    operator): stage 1 ranks the original query by BM25 and takes the
    top PRF_FEEDBACK_K docs as the feedback set; stage 2 picks the
    PRF_EXPANSION_N highest-lift terms from the feedback docs (score =
    total feedback tf x ln(N/df), original terms excluded, rank on the
    ROUNDED score with term tie-break); stage 3 re-scores with the
    expanded weighted query (originals 1.0, expansions PRF_EXP_WEIGHT),
    per-doc sums in canonical ascending-term order as everywhere.

    Pinned deviation from bm25_topk: the stage-1 feedback cut ranks on
    the 6dp-ROUNDED score (doc_id tie) so feedback membership can never
    flip on a last-ulp cross-engine difference. All three stages are one
    plan — corpus stats broadcast, no collect."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_string
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk
    from lucene_mapreduce_spark.query.bm25 import B, K1

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
    doclens = docs.select(
        "doc_id", F.size(tokenize_col("text")).cast("double").alias("dl")
    )
    stats = doclens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    postings = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfs = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df_t")
    )

    def contribs(term_weights: DataFrame) -> DataFrame:
        """per-(doc, term) weighted BM25 contribution for the given
        (term, w) frame (broadcast — query-sized)."""
        j = (
            postings.join(F.broadcast(term_weights), "term")
            .join(dfs, "term")
            .join(doclens, "doc_id")
            .crossJoin(F.broadcast(stats))
        )
        idf = bm25_idf_col("df_t", "n_docs")
        tfn = (
            F.col("tf")
            * F.lit(K1 + 1.0)
            / (
                F.col("tf")
                + F.lit(K1)
                * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
            )
        )
        return j.select(
            "doc_id", "term", (F.col("w") * idf * tfn).alias("contrib")
        )

    def fold_topk(c: DataFrame, depth: int) -> DataFrame:
        agg = c.groupBy("doc_id").agg(
            F.round(canonical_sum("contrib", "term"), 6).alias("score")
        )
        return ranked_topk(agg, [F.desc("score"), F.asc("doc_id")], depth)

    qts = sorted(set(tokenize_string(query_text)))
    q1 = spark.createDataFrame([(t, 1.0) for t in qts], "term string, w double")
    feedback = fold_topk(contribs(q1), PRF_FEEDBACK_K).select("doc_id")

    fb_tf = (
        postings.join(F.broadcast(feedback), "doc_id")
        .where(~F.col("term").isin(qts))
        .groupBy("term")
        .agg(F.sum("tf").alias("fb_tf"))
        .join(dfs, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(
                F.col("fb_tf") * F.log(F.col("n_docs") / F.col("df_t")), 6
            ).alias("lift"),
        )
    )
    expansion = (
        ranked_topk(fb_tf, [F.desc("lift"), F.asc("term")], PRF_EXPANSION_N)
        .select("term", F.lit(PRF_EXP_WEIGHT).alias("w"))
    )
    q2 = q1.select("term", "w").unionByName(expansion)
    return fold_topk(contribs(q2), k).select("doc_id", "score", "rank")


def ib_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
) -> DataFrame:
    """Lucene IBSimilarity(DistributionLL, LambdaDF, NormalizationH2 c=1)
    parity — the information-based member that completes the Lucene core
    similarity zoo (BM25 / Classic / DFR / DFI / Axiomatic / LMDirichlet
    / LMJelinekMercer / BM25F / Boolean are the others already covered):

        tfn     = tf · log2(1 + avgdl/dl)      (H2, c=1)
        lambda  = (df_t + 1) / (N + 1)          (LambdaDF)
        contrib = ln(1 + tfn / lambda)          (LL: -ln(λ/(λ+tfn)))

    log2 is ln·DFR_INV_LN2 (shared literal — the dfr_topk rationale); the
    LL log is NATURAL (Lucene Math.log). Scores are strictly positive so
    no clamp is needed (WAND-compatible contract). N/avgdl come off the
    merged manifest's columnar segment stats; df_t is one aggregate over
    the pruned query-term postings; per-doc sums are canonical
    ascending-term accumulation, rounded 6dp. Reference parity anchor:
    the reducer-merged scoring seam (IndexBuilderReducer.java:120-160)."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    m = load_manifest(ix)
    segs = m.ordered()
    n_docs = float(sum(s.n_docs for s in segs))
    avgdl = float(sum(s.total_tokens for s in segs)) / n_docs
    qts = sorted(set(tokenize_string(query_text)))
    posts = read_postings(spark, ix, qts)
    dfs = posts.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df_t")
    )
    j = posts.join(F.broadcast(dfs), "term")
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    tfn = tf * (F.log(F.lit(1.0) + F.lit(avgdl) / dl) * F.lit(DFR_INV_LN2))
    lam = (F.col("df_t") + F.lit(1.0)) / F.lit(n_docs + 1.0)
    contrib = F.log(F.lit(1.0) + tfn / lam)
    scored = j.select("doc_id", "term", contrib.alias("contrib"))
    agg = scored.groupBy("doc_id").agg(
        F.round(canonical_sum("contrib", "term"), 6).alias("score")
    )
    return ranked_topk(agg, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


def boolean_sim_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
) -> DataFrame:
    """Lucene BooleanSimilarity parity: score = sum of matched-clause
    boosts — with unit boosts, the count of DISTINCT query terms present
    in the doc. Pure-integer scores (no float determinism surface at
    all); ties rank by doc_id, matching the engine's stable ordering
    contract. The degenerate-but-real similarity used for filter-style
    fields where only match cardinality matters. One pruned postings
    read, one map-side-combinable count."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    qts = sorted(set(tokenize_string(query_text)))
    posts = read_postings(spark, ix, qts)
    agg = posts.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("score")
    )
    return ranked_topk(agg, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


SIGCHI2_K = 10
SIGCHI2_MIN_DF = 3


def sig_terms_chi2(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    k: int = SIGCHI2_K,
    min_df: int = SIGCHI2_MIN_DF,
) -> DataFrame:
    """significant_terms with the chi_square heuristic (the ES
    alternative to the default JLH-style lift already covered by
    significant_terms): 2x2 contingency chi-squared of term presence in
    the foreground (OR hit set) vs the rest of the corpus,

        a = df_fg, b = n_fg - a, c = df_bg - a, d = (n_bg - n_fg) - c
        chi2 = n_bg * (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d))

    include_negatives=false: only positively associated terms rank
    (integer cross-multiply a·n_bg > df_bg·n_fg — no float boundary).
    The chi2 itself is ONE fixed IEEE chain over exact integer inputs,
    written identically in the DuckDB twin, rounded 6dp; rank on the
    rounded score with term tie-break. Same distributed hit-set shape as
    significant_terms (no driver materialization)."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_string
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import boolean_match

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    n_fg = hits.count()
    docs = load(spark, sf_dir, "documents")
    n_bg = docs.count()
    toks = docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
    bg = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df_bg"))
    fg = (
        toks.join(hits, "doc_id")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df_fg"))
    )
    qterms = sorted(set(tokenize_string(query_text)))
    a = F.col("df_fg").cast("double")
    b = F.lit(float(n_fg)) - a
    c = F.col("df_bg").cast("double") - a
    d = F.lit(float(n_bg - n_fg)) - c
    chi2 = (
        F.lit(float(n_bg))
        * (a * d - b * c)
        * (a * d - b * c)
        / ((a + b) * (c + d) * (a + c) * (b + d))
    )
    scored = (
        fg.join(bg, "term")
        .filter(
            ~F.col("term").isin(qterms)
            & (F.col("df_fg") >= min_df)
            # positive association, exact integer cross-multiply
            & (
                F.col("df_fg").cast("long") * F.lit(int(n_bg))
                > F.col("df_bg").cast("long") * F.lit(int(n_fg))
            )
        )
        .select(
            "term",
            F.col("df_fg").cast("long").alias("df_fg"),
            F.col("df_bg").cast("long").alias("df_bg"),
            F.round(chi2, 6).alias("chi2"),
        )
    )
    return ranked_topk(scored, [F.desc("chi2"), F.asc("term")], k).select(
        "term", "df_fg", "df_bg", "chi2", "rank"
    )


def most_fields_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BM25F_QUERY,
    kw_field: str = "source",
    k: int = 10,
) -> DataFrame:
    """ES `multi_match` type=most_fields over (text, source): each field
    is scored INDEPENDENTLY with its own BM25 statistics and the field
    scores are summed — the semantic sibling of bm25f_topk (shared-norm
    BM25F) and combined_fields_query (blended term stats); most_fields is
    what ES runs when the same text is analyzed differently per field.
    The keyword leg is single-token-per-doc, so its tf/length factor
    collapses to 1 and the contribution is exactly the term idf — the
    text leg is the standard scan-path BM25 (canonical ascending-term
    fold). Legs meet in ONE full-outer join on doc_id; the final add
    happens once, rounded 6dp. Same query as bm25f_topk ('src3' matches
    only the keyword field)."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.bm25_df import corpus_postings, exact_scores

    docs = load(spark, sf_dir, "documents")
    postings, doclens = corpus_postings(docs)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qts = sorted(set(tokenize_string(query_text)))
    qterms = spark.createDataFrame([("q0", t) for t in qts], "query_id string, term string")
    df_t = (
        postings.join(F.broadcast(qterms.select("term")), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )
    matched = (
        postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    tleg = exact_scores(matched).select("doc_id", F.col("score").alias("tscore"))
    dfk = docs.groupBy(kw_field).agg(F.count(F.lit(1)).cast("double").alias("dfk"))
    kleg = (
        docs.select("doc_id", kw_field)
        .filter(F.col(kw_field).isin(qts))
        .join(F.broadcast(dfk), kw_field)
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            bm25_idf_col("dfk", "n_docs").alias("kscore"),
        )
    )
    fused = tleg.join(kleg, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce("tscore", F.lit(0.0)) + F.coalesce("kscore", F.lit(0.0)), 6
        ).alias("score"),
    )
    return ranked_topk(fused, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


def index_posting_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-integrity audit as a gate query: DECODE every live posting
    payload (varbyte+delta blocks through the real reader — index_stats
    checks only manifest bookkeeping, this one exercises the decode path
    over the whole index) and recompute the corpus invariants: posting
    count = distinct (doc, term), sum(tf) = total token count, distinct
    docs, distinct terms, max tf. The oracle rederives all five from the
    raw documents table — any codec/merge corruption breaks the equality.
    The vocabulary rides as a broadcast term frame (read_postings' batch
    shape): the postings scan happens once, no driver term list."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokenize_col("text")).alias("term"))
        .distinct()
    )
    posts = read_postings(spark, ix, vocab)
    return posts.agg(
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.sum("tf").cast("long").alias("total_tokens"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.countDistinct("term").cast("long").alias("n_terms"),
        F.max("tf").cast("long").alias("max_tf"),
    )


def generation_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-to-commit diff report over the PIT machinery: read the
    live doc-length map at generation 1 (pit_manifest — even docs + the
    stale shadowed odd copies) and at the latest commit, and report how
    many docs changed and the net token delta — the 'what did this
    reindex actually touch' audit an operator reads before publishing a
    swap (F6). Both legs are the real doclen pseudo-term decode; the
    join is doc-keyed; counts/deltas are exact BIGINTs. The oracle knows
    the gate's stale-copy construction (odd docs carry a 2-token prefix
    at gen 1), so any PIT or latest-wins masking bug breaks equality."""
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.query.segments import live_doclens, pit_manifest

    ix = _gate_index_unmerged(spark, sf_dir)
    m1 = pit_manifest(ix, PIT_SEQ)
    mL = load_manifest(ix)
    d1 = live_doclens(spark, ix, manifest=m1).select(
        "doc_id", F.col("dl").alias("dl1")
    )
    dL = live_doclens(spark, ix, manifest=mL).select(
        "doc_id", F.col("dl").alias("dl2")
    )
    j = d1.join(dL, "doc_id", "full_outer")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("dl1") != F.col("dl2"), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_changed"),
        F.sum(
            F.when(F.col("dl1") == F.col("dl2"), F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_unchanged"),
        F.sum(F.col("dl2").cast("long") - F.col("dl1").cast("long"))
        .cast("long")
        .alias("token_delta"),
    )


# --- batch 39: percolator with range clauses --------------------------------

PERCOLATE_RANGE_QUERIES = (
    # (query_id, conjunctive terms, n_chars_lo, n_chars_hi) — ES percolator
    # docs store bool{must: terms, filter: range} queries of this shape
    ("r0", "table merge", 100, 400),
    ("r1", "fast scan", 250, 10000),
    ("r2", "dup", 0, 320),
    ("r3", "slow join", 150, 350),
)


def percolate_range_match(
    spark: SparkSession,
    sf_dir: str,
    queries: tuple[tuple[str, str, int, int], ...] = PERCOLATE_RANGE_QUERIES,
) -> DataFrame:
    """Percolator with mixed clause types (ES percolate on bool queries
    holding a terms MUST plus a numeric range FILTER): which stored
    alerts fire for which doc. The conjunctive-term leg is
    percolate_match's broadcast-registry shape (one pruned postings read
    of the union term set); the range FILTER then joins the candidates
    against the doc-length field and a broadcast (query, lo, hi) table —
    scoreless, exactly like Lucene's FILTER occur. Candidates shrink
    BEFORE the range join, so the extra clause costs one broadcast probe
    per surviving (query, doc) pair."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.operators.parity import load
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    reg = [
        (qid, t)
        for qid, qtext, _lo, _hi in queries
        for t in sorted(set(tokenize_string(qtext)))
    ]
    need = {qid: len({t for q, t in reg if q == qid}) for qid, *_ in queries}
    terms = sorted({t for _, t in reg})
    regdf = spark.createDataFrame(reg, "query_id string, term string")
    needdf = spark.createDataFrame(
        sorted(need.items()), "query_id string, n_terms int"
    )
    rangedf = spark.createDataFrame(
        [(qid, lo, hi) for qid, _q, lo, hi in queries],
        "query_id string, lo long, hi long",
    )
    pos = read_postings(spark, ix, terms).select("term", "doc_id")
    cand = (
        pos.join(F.broadcast(regdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("m"))
        .join(F.broadcast(needdf), "query_id")
        .filter(F.col("m") == F.col("n_terms"))
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        cand.join(docs, "doc_id")
        .join(F.broadcast(rangedf), "query_id")
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") < F.col("hi")))
        .select("query_id", "doc_id")
        .orderBy("query_id", "doc_id")
    )


# --- batch 40: tuned BM25 + background-filtered significant terms -----------

TUNED_K1 = 0.9
TUNED_B = 0.4


def bm25_tuned_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k1: float = TUNED_K1,
    b: float = TUNED_B,
    k: int = 10,
) -> DataFrame:
    """BM25 with non-default (k1, b) — Lucene's BM25Similarity(k1, b)
    constructor surface (short-query tuning: lower k1 saturates tf
    sooner, lower b flattens length normalization). Same corpus-scan
    shape and canonical ascending-term accumulation as bm25_topk; only
    the two constants differ, so rank shifts vs the default scorer are
    attributable to tuning alone (asserted in tests)."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_string
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    docs = load(spark, sf_dir, "documents")
    dls = docs.select("doc_id", F.size(tokenize_col("text")).alias("dl"))
    stats = dls.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    toks = docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
    qterms = sorted(set(tokenize_string(query_text)))
    postings = (
        toks.filter(F.col("term").isin(qterms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_t = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df_t")
    )
    matched = (
        postings.join(F.broadcast(df_t), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    contrib = bm25_contrib_col(
        "tf", F.col("dl").cast("double"), "avgdl", bm25_idf_col("df_t", "n_docs"), k1, b
    )
    per_doc = (
        matched.select("doc_id", "term", contrib.alias("contrib"))
        .groupBy("doc_id")
        .agg(F.round(canonical_sum("contrib", "term"), 6).alias("score"))
    )
    return ranked_topk(per_doc, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


SIGBG_LANG = "en"


def sig_terms_background_filter(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    bg_lang: str = SIGBG_LANG,
    k: int = SIGTERMS_K,
    min_df: int = SIGTERMS_MIN_DF,
) -> DataFrame:
    """ES significant_terms with `background_filter`: significance is
    measured against a SCOPED background (here docs of one language)
    instead of the whole index — the knob that stops corpus-wide
    commonness from masking within-slice signal. Foreground = query hits
    intersected with the background (ES requires fg ⊆ bg for the ratio
    to be a lift). Same distributed shape as significant_terms: one
    explode, two combinable df aggregations, bounded top-k."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_string
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk
    from lucene_mapreduce_spark.query.segments import boolean_match

    ix = _gate_index(spark, sf_dir)
    bg_docs = load(spark, sf_dir, "documents").filter(F.col("lang") == bg_lang)
    hits = boolean_match(spark, ix, query_text, mode="or").join(
        bg_docs.select("doc_id"), "doc_id"
    )
    n_fg = hits.count()
    n_bg = bg_docs.count()
    toks = bg_docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
    bg = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df_bg"))
    fg = (
        toks.join(hits, "doc_id")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df_fg"))
    )
    qterms = set(tokenize_string(query_text))
    lifted = (
        fg.join(bg, "term")
        .filter(~F.col("term").isin(sorted(qterms)) & (F.col("df_fg") >= min_df))
        .withColumn(
            "lift",
            F.round(
                (F.col("df_fg") / F.lit(float(n_fg)))
                / (F.col("df_bg") / F.lit(float(n_bg))),
                6,
            ),
        )
    )
    return ranked_topk(lifted, [F.desc("lift"), F.asc("term")], k).select(
        "term",
        F.col("df_fg").cast("long").alias("df_fg"),
        F.col("df_bg").cast("long").alias("df_bg"),
        "lift",
        "rank",
    )


# --- batch 41: rank_feature function variants + PIT pagination --------------

RANK_FEATURE_LOG = (200.0, 1.5)  # (scaling pivot, weight)
RANK_FEATURE_SIGMOID = (250.0, 2.0)  # (pivot, weight); exponent pinned 2


def rank_feature_log_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    pivot: float = RANK_FEATURE_LOG[0],
    weight: float = RANK_FEATURE_LOG[1],
    k: int = 10,
) -> DataFrame:
    """ES `rank_feature` with the `log` function: score = BM25 +
    weight * ln(1 + x/pivot) — the unbounded-boost variant (saturation is
    rank_feature_query). ln is correctly rounded in both engines; the
    additive fuse and plumbing are identical to the saturation twin."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, field_num_values

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    base = bm25_scores(spark, ix, queries).select("doc_id", "score")
    nums = field_num_values(spark, ix, "n_chars")
    x = F.col("num_value").cast("double")
    fused = base.join(nums, "doc_id").select(
        "doc_id",
        F.round(
            F.col("score")
            + F.lit(weight) * F.log(F.lit(1.0) + x / F.lit(pivot)),
            6,
        ).alias("score"),
    )
    return ranked_topk(fused, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


def rank_feature_sigmoid_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    pivot: float = RANK_FEATURE_SIGMOID[0],
    weight: float = RANK_FEATURE_SIGMOID[1],
    k: int = 10,
) -> DataFrame:
    """ES `rank_feature` with the `sigmoid` function at exponent 2:
    score = BM25 + weight * x^2 / (x^2 + pivot^2). The exponent is pinned
    to 2 so the power is a plain product (pow() is not correctly rounded
    cross-engine — the axiomatic_topk rule); the S-curve shape the ES
    docs recommend for mid-range feature values is preserved."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, field_num_values

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    base = bm25_scores(spark, ix, queries).select("doc_id", "score")
    nums = field_num_values(spark, ix, "n_chars")
    x = F.col("num_value").cast("double")
    fused = base.join(nums, "doc_id").select(
        "doc_id",
        F.round(
            F.col("score")
            + F.lit(weight) * (x * x) / (x * x + F.lit(pivot) * F.lit(pivot)),
            6,
        ).alias("score"),
    )
    return ranked_topk(fused, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


def pit_search_after_page(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    as_of: int = PIT_SEQ,
    k: int = 10,
) -> DataFrame:
    """search_after on a point-in-time reader — the pairing ES REQUIRES
    for consistent deep pagination (a PIT id pins the generation so pages
    never shift under concurrent indexing; Lucene: searchAfter against
    one IndexCommit's reader). Page 2 (ranks k+1..2k) of the PIT-pinned
    BM25 ranking; the newer generation's re-indexed docs must be
    invisible on every page."""
    from lucene_mapreduce_spark.query.segments import bm25_index_topk, pit_manifest

    ix = _gate_index_unmerged(spark, sf_dir)
    m = pit_manifest(ix, as_of)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    out = bm25_index_topk(spark, ix, queries, k=2 * k, round_to=6, manifest=m)
    return (
        out.filter(F.col("rank") > k)
        .select("doc_id", "score", "rank")
        .orderBy("rank")
    )


# --- batch 42: pre-retrieval query difficulty prediction ---------------------

QDP_QUERIES = (
    ("q0", FLAGSHIP_QUERY),
    ("q1", SECOND_QUERY),
    ("q2", BOOLEAN_QUERY),
    ("q3", PHRASE_QUERY),
)


def query_difficulty_predictors(
    spark: SparkSession,
    sf_dir: str,
    queries: tuple[tuple[str, str], ...] = QDP_QUERIES,
) -> DataFrame:
    """Pre-retrieval query performance prediction (QPP): the classic
    predictors a search cluster computes BEFORE running a query to route
    or throttle it — term count, avg/max idf (specificity), and SCQ
    (similarity collection-query, He & Ounis 2004: sum over terms of
    (1 + ln(cf_t)) * idf_t). One corpus explode builds df/cf for the
    union term set; per-query sums fold in ascending term order (the
    house determinism rule), divisions and ln identical cross-engine."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_string
    from lucene_mapreduce_spark.operators.parity import load

    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    reg = [
        (qid, t)
        for qid, qtext in queries
        for t in sorted(set(tokenize_string(qtext)))
    ]
    regdf = spark.createDataFrame(reg, "query_id string, term string")
    union_terms = sorted({t for _, t in reg})
    toks = docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
    stats = (
        toks.filter(F.col("term").isin(union_terms))
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").cast("double").alias("df"),
            F.count(F.lit(1)).cast("double").alias("cf"),
        )
    )
    idf = bm25_idf_col("df", n_docs)
    per_term = regdf.join(F.broadcast(stats), "term").select(
        "query_id",
        "term",
        idf.alias("idf"),
        ((F.lit(1.0) + F.log("cf")) * idf).alias("scq_t"),
    )
    folded = per_term.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(
            canonical_sum("idf", "term") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("avg_idf"),
        F.round(F.max("idf"), 6).alias("max_idf"),
        F.round(canonical_sum("scq_t", "term"), 6).alias("scq"),
    )
    return folded.orderBy("query_id")


def sig_terms_gnd(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    k: int = SIGTERMS_K,
    min_df: int = SIGTERMS_MIN_DF,
) -> DataFrame:
    """Significant terms scored by Google Normalized Distance (ES's `gnd`
    heuristic; Cilibrasi & Vitanyi 2007): gnd = (max(ln fg, ln df) -
    ln overlap) / (ln N - min(ln fg, ln df)) where overlap = df_fg —
    smaller is MORE significant, so ranking ascends. All inputs are exact
    integer counts; ln chains and the division are identical in both
    engines; same distributed shape as the lift-scored significant_terms."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_string
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk
    from lucene_mapreduce_spark.query.segments import boolean_match

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    n_fg = hits.count()
    docs = load(spark, sf_dir, "documents")
    n_bg = docs.count()
    toks = docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
    bg = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df_bg"))
    fg = (
        toks.join(hits, "doc_id")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df_fg"))
    )
    qterms = set(tokenize_string(query_text))
    lf = F.log(F.lit(float(n_fg)))
    ld = F.log(F.col("df_bg").cast("double"))
    lo = F.log(F.col("df_fg").cast("double"))
    gnd = (F.greatest(lf, ld) - lo) / (F.log(F.lit(float(n_bg))) - F.least(lf, ld))
    scored = (
        fg.join(bg, "term")
        .filter(~F.col("term").isin(sorted(qterms)) & (F.col("df_fg") >= min_df))
        .withColumn("gnd", F.round(gnd, 6))
    )
    return ranked_topk(scored, [F.asc("gnd"), F.asc("term")], k).select(
        "term",
        F.col("df_fg").cast("long").alias("df_fg"),
        F.col("df_bg").cast("long").alias("df_bg"),
        "gnd",
        "rank",
    )


# --- batch 46: remaining significant_terms heuristics ------------------------


def _sig_cells(spark: SparkSession, sf_dir: str, query_text: str, min_df: int):
    """Shared fg/bg contingency assembly for the significant_terms
    heuristic family (chi2 / gnd / mi / percentage): OR hit set from the
    gate index, per-term df_fg/df_bg, query terms + min_df + positive-
    association filter (integer cross-multiply). Returns (filtered
    DataFrame with df_fg/df_bg, n_fg, n_bg)."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_string
    from lucene_mapreduce_spark.query.segments import boolean_match

    ix = _gate_index(spark, sf_dir)
    hits = boolean_match(spark, ix, query_text, mode="or")
    n_fg = hits.count()
    docs = load(spark, sf_dir, "documents")
    n_bg = docs.count()
    toks = docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
    bg = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df_bg"))
    fg = (
        toks.join(hits, "doc_id")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df_fg"))
    )
    qterms = sorted(set(tokenize_string(query_text)))
    cells = (
        fg.join(bg, "term")
        .filter(
            ~F.col("term").isin(qterms)
            & (F.col("df_fg") >= min_df)
            & (
                F.col("df_fg").cast("long") * F.lit(int(n_bg))
                > F.col("df_bg").cast("long") * F.lit(int(n_fg))
            )
        )
    )
    return cells, n_fg, n_bg


def sig_terms_mi(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    k: int = SIGCHI2_K,
    min_df: int = SIGCHI2_MIN_DF,
) -> DataFrame:
    """significant_terms with the mutual_information heuristic (the
    third ES heuristic next to chi_square and gnd): MI of the 2x2 (term
    presence x foreground membership) table,

        MI = Σ_cells (n_xy/N) * log2(N*n_xy / (rowtot*coltot))

    cells summed in the FIXED order (1,1),(1,0),(0,1),(0,0); zero cells
    contribute 0 (the p->0 limit). log2 = ln * the shared 1/ln2 literal
    (the dfr_topk rule). Positive-association filter as in chi2."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    cells, n_fg, n_bg = _sig_cells(spark, sf_dir, query_text, min_df)
    nn = float(n_bg)
    a = F.col("df_fg").cast("double")  # term & fg
    b = F.lit(float(n_fg)) - a  # no term... (term absent, fg)  [n01 below]
    c = F.col("df_bg").cast("double") - a  # term & bg-rest
    d = F.lit(float(n_bg - n_fg)) - c  # absent & bg-rest
    row1 = F.col("df_bg").cast("double")  # term present total
    row0 = F.lit(nn) - row1
    col1 = F.lit(float(n_fg))
    col0 = F.lit(float(n_bg - n_fg))

    def contrib(n, rowtot, coltot):
        return F.when(
            n > 0,
            (n / F.lit(nn))
            * F.log(F.lit(nn) * n / (rowtot * coltot))
            * F.lit(DFR_INV_LN2),
        ).otherwise(F.lit(0.0))

    mi = (
        contrib(a, row1, col1)
        + contrib(b, row0, col1)
        + contrib(c, row1, col0)
        + contrib(d, row0, col0)
    )
    scored = cells.select(
        "term",
        F.col("df_fg").cast("long").alias("df_fg"),
        F.col("df_bg").cast("long").alias("df_bg"),
        F.round(mi, 6).alias("mi"),
    )
    return ranked_topk(scored, [F.desc("mi"), F.asc("term")], k).select(
        "term", "df_fg", "df_bg", "mi", "rank"
    )


def sig_terms_percentage(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    k: int = SIGCHI2_K,
    min_df: int = SIGCHI2_MIN_DF,
) -> DataFrame:
    """significant_terms with the percentage heuristic — the simplest ES
    scorer: what fraction of the term's documents sit in the foreground
    (df_fg / df_bg, an exact integer ratio). Same filters as the other
    heuristics; rank on the rounded ratio with term tie-break."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    cells, _n_fg, _n_bg = _sig_cells(spark, sf_dir, query_text, min_df)
    scored = cells.select(
        "term",
        F.col("df_fg").cast("long").alias("df_fg"),
        F.col("df_bg").cast("long").alias("df_bg"),
        F.round(
            F.col("df_fg").cast("double") / F.col("df_bg").cast("double"), 6
        ).alias("pct"),
    )
    return ranked_topk(scored, [F.desc("pct"), F.asc("term")], k).select(
        "term", "df_fg", "df_bg", "pct", "rank"
    )


def sig_terms_jlh(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BOOLEAN_QUERY,
    k: int = SIGCHI2_K,
    min_df: int = SIGCHI2_MIN_DF,
) -> DataFrame:
    """significant_terms with the JLH heuristic — Elasticsearch's
    DEFAULT scorer, completing the heuristic family (chi_square, gnd,
    mutual_information, percentage, jlh):

        jlh = (fg% - bg%) * (fg% / bg%)

    absolute change times relative change, fg% = df_fg/n_fg and
    bg% = df_bg/n_bg. One float chain, written in the identical
    operation order in both engines; the positive-association filter
    guarantees fg% > bg% so the score is positive. Shares the _sig_cells
    contingency assembly (gate-index OR hit set, min_df, query-term
    exclusion)."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    cells, n_fg, n_bg = _sig_cells(spark, sf_dir, query_text, min_df)
    fg_pct = F.col("df_fg").cast("double") / F.lit(float(n_fg))
    bg_pct = F.col("df_bg").cast("double") / F.lit(float(n_bg))
    jlh = (fg_pct - bg_pct) * (fg_pct / bg_pct)
    scored = cells.select(
        "term",
        F.col("df_fg").cast("long").alias("df_fg"),
        F.col("df_bg").cast("long").alias("df_bg"),
        F.round(jlh, 6).alias("jlh"),
    )
    return ranked_topk(scored, [F.desc("jlh"), F.asc("term")], k).select(
        "term", "df_fg", "df_bg", "jlh", "rank"
    )


# --- batch 49: cross_fields, span position range, negated percolation -------

SPAN_POS_RANGE = ("merge", 3, 12)  # SpanPositionRangeQuery(term, lo, hi)
PERCOLATE_NOT_QUERIES = (
    ("n0", "table merge", "slow"),
    ("n1", "fast scan", "dup"),
    ("n2", "vector", "window"),
)


def cross_fields_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = BM25F_QUERY,
    kw_field: str = "source",
    k: int = 10,
) -> DataFrame:
    """ES `multi_match` type=cross_fields over (text, source) — the last
    multi-match mode next to best_fields (dismax_query), most_fields,
    bm25f and combined_fields. Term-centric with BLENDED statistics
    (Lucene BlendedTermQuery): per term df_blend = max(df_text, df_kw)
    feeds ONE idf; each field is then saturated with its own norm and
    the per-term contribution is the BEST field score (dismax,
    tie_breaker 0). The keyword leg's tf/len factor collapses to 1 so
    its score is exactly the blended idf. Per-doc total is the canonical
    ascending-term fold. One pruned postings read + one field-values
    read; dims broadcast."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.bm25 import B, K1
    from lucene_mapreduce_spark.query.segments import (
        exact_stats,
        field_values,
        live_doclens,
        read_postings,
    )

    ix = _gate_index(spark, sf_dir)
    terms = sorted(set(tokenize_string(query_text)))
    n_docs, avgdl = exact_stats(spark, ix)
    tp = read_postings(spark, ix, terms).select("term", "doc_id", "tf")
    kv = (
        field_values(spark, ix, kw_field)
        .filter(F.col("value").isin(terms))
        .select(F.col("value").alias("term"), "doc_id")
    )
    df_text = tp.groupBy("term").agg(F.count(F.lit(1)).alias("df_text"))
    df_kw = kv.groupBy("term").agg(F.count(F.lit(1)).alias("df_kw"))
    dfb = (
        df_text.join(df_kw, "term", "full_outer")
        .select(
            "term",
            F.greatest(
                F.coalesce(F.col("df_text"), F.lit(0)),
                F.coalesce(F.col("df_kw"), F.lit(0)),
            )
            .cast("double")
            .alias("df_b"),
        )
    )
    idf = bm25_idf_col("df_b", n_docs)
    dls = live_doclens(spark, ix).select("doc_id", "dl")
    tleg = (
        tp.join(dls, "doc_id")
        .select(
            "term",
            "doc_id",
            (
                F.col("tf").cast("double")
                * F.lit(K1 + 1.0)
                / (
                    F.col("tf").cast("double")
                    + F.lit(K1)
                    * (
                        F.lit(1.0 - B)
                        + F.lit(B) * F.col("dl").cast("double") / F.lit(float(avgdl))
                    )
                )
            ).alias("sat_text"),
        )
    )
    m = tleg.join(
        kv.withColumn("kw_hit", F.lit(1.0)), ["term", "doc_id"], "full_outer"
    ).select(
        "term",
        "doc_id",
        F.greatest(
            F.coalesce(F.col("sat_text"), F.lit(0.0)),
            F.coalesce(F.col("kw_hit"), F.lit(0.0)),
        ).alias("sat_best"),
    )
    contribs = m.join(F.broadcast(dfb), "term").select(
        "doc_id", "term", (idf * F.col("sat_best")).alias("contrib")
    )
    per_doc = contribs.groupBy("doc_id").agg(
        F.round(canonical_sum("contrib", "term"), 6).alias("score")
    )
    return ranked_topk(per_doc, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


def span_position_range_query(
    spark: SparkSession,
    sf_dir: str,
    term: str = SPAN_POS_RANGE[0],
    lo: int = SPAN_POS_RANGE[1],
    hi: int = SPAN_POS_RANGE[2],
) -> DataFrame:
    """Lucene SpanPositionRangeQuery parity: occurrences of `term` whose
    span lies inside token positions [lo, hi) — SpanFirst generalized to
    an interior window (0-based positions, span end = p+1 <= hi). One
    pruned positional-sidecar read; the count of in-window occurrences
    rides along (pure codegen filter over the position array)."""
    from lucene_mapreduce_spark.query.segments import read_positions

    ix = _gate_index(spark, sf_dir)
    pos = read_positions(spark, ix, [term])
    n_in = F.size(
        F.filter(
            F.col("positions"),
            lambda p: (p >= F.lit(lo)) & (p < F.lit(hi)),
        )
    )
    return (
        pos.filter(F.col("term") == term)
        .select("doc_id", n_in.cast("long").alias("n_in_range"))
        .filter(F.col("n_in_range") > 0)
        .orderBy("doc_id")
    )


def percolate_not_match(
    spark: SparkSession,
    sf_dir: str,
    queries: tuple[tuple[str, str, str], ...] = PERCOLATE_NOT_QUERIES,
) -> DataFrame:
    """Percolator with negation: each registered query is a conjunction
    of required terms PLUS one MUST_NOT term — the alert fires only when
    every required term is present and the forbidden term is absent.
    Same broadcast-registry shape as percolate_match; the negation is a
    left-anti join against the forbidden-term postings (never a
    NOT-IN-driver list). Completes the percolator surface: conjunctive,
    range, streaming, negated."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    req = [
        (qid, t)
        for qid, qtext, _neg in queries
        for t in sorted(set(tokenize_string(qtext)))
    ]
    neg = [(qid, n) for qid, _qtext, n in queries]
    need = {qid: len({t for q, t in req if q == qid}) for qid, _, _ in queries}
    terms = sorted({t for _, t in req} | {n for _, n in neg})
    reqdf = spark.createDataFrame(req, "query_id string, term string")
    negdf = spark.createDataFrame(neg, "query_id string, term string")
    needdf = spark.createDataFrame(
        sorted(need.items()), "query_id string, n_terms int"
    )
    pos = read_postings(spark, ix, terms).select("term", "doc_id")
    hits = (
        pos.join(F.broadcast(reqdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("m"))
        .join(F.broadcast(needdf), "query_id")
        .filter(F.col("m") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    forbidden = pos.join(F.broadcast(negdf), "term").select("query_id", "doc_id")
    return hits.join(forbidden, ["query_id", "doc_id"], "left_anti").orderBy(
        "query_id", "doc_id"
    )


# --- batch 50: match_bool_prefix, payload scoring, block-join avg, ERR@k,
# --- global agg ---------------------------------------------------------

MATCH_BOOL_PREFIX = ("slow merge", "vec")  # full terms + last-token prefix


def match_bool_prefix_query(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = MATCH_BOOL_PREFIX[0],
    prefix: str = MATCH_BOOL_PREFIX[1],
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES `match_bool_prefix` parity: every token but the last is a full
    BM25 SHOULD term, the last token is a PrefixQuery SHOULD clause under
    Lucene's CONSTANT_SCORE rewrite — the prefix leg contributes a flat
    1.0 when the doc holds ANY dictionary term with that prefix
    (MultiTermQuery constant-score semantics: one bit, not per-expansion
    scoring). Hit set = union of the clauses (bool SHOULD, msm=1).

    Plan: exact unranked BM25 over the index for the full terms, a
    df-ranked capped dictionary expansion (same `maxExpansions` rewrite
    as prefix_query — under the cap the set equals the uncapped oracle),
    the prefix hit set as one pruned postings read collapsed to distinct
    doc_ids, FULL OUTER fuse, and only fused rows rank. Ranks on the
    ROUNDED score (expansion rule, see _score_expanded)."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores, read_postings

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    base = bm25_scores(spark, ix, queries).select("doc_id", "score")
    cands = _index_vocab(spark, ix).filter(F.col("term").startswith(prefix))
    exps = _expand_capped(cands, max_expansions)
    if exps:
        phits = (
            read_postings(spark, ix, exps)
            .select("doc_id")
            .distinct()
            .withColumn("pboost", F.lit(1.0))
        )
    else:
        phits = spark.createDataFrame([], "doc_id long, pboost double")
    fused = base.join(phits, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(F.col("score"), F.lit(0.0))
            + F.coalesce(F.col("pboost"), F.lit(0.0)),
            6,
        ).alias("score"),
    )
    return ranked_topk(fused, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


PAYLOAD_TERM = "merge"  # PayloadScoreQuery(SpanTermQuery(term), SumFunction)


def payload_score_query(
    spark: SparkSession,
    sf_dir: str,
    term: str = PAYLOAD_TERM,
    k: int = 10,
) -> DataFrame:
    """Lucene PayloadScoreQuery parity (SpanTermQuery + SumFunction,
    includeSpanScore=false): the doc score is the SUM of the payloads
    stored at the term's positions. Payloads here follow the engine-shared
    synthetic convention payload(doc, pos) = 1 + (md5_52('pl:term:doc:pos')
    mod 16) — the analyzer-attached integer payload a real deployment
    would index (e.g. a token weight); all-integer so the sum is exact at
    any parallelism. One tokenize scan (posexplode = the positional
    sidecar's content recomputed), a doc-level groupBy, bounded ranking."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    docs = load(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokenize_col("text")).alias("pos", "tok")
    ).filter(F.col("tok") == F.lit(term))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"pl:{term}:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("pos").cast("string"),
                )
            ),
            1,
            13,
        ),
        16,
        10,
    ).cast("long")
    payload = (h % F.lit(16) + F.lit(1)).cast("long")
    scored = (
        pos.select("doc_id", payload.alias("payload"))
        .groupBy("doc_id")
        .agg(
            F.sum("payload").cast("long").alias("payload_score"),
            F.count(F.lit(1)).cast("long").alias("n_positions"),
        )
    )
    return ranked_topk(
        scored, [F.desc("payload_score"), F.asc("doc_id")], k
    ).select("doc_id", "payload_score", "n_positions", "rank")


def block_join_avg_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
    width: int = BLOCK_WIDTH,
) -> DataFrame:
    """ToParentBlockJoinQuery ScoreMode.Avg — the sibling of
    block_join_topk (Max): a parent's score is the MEAN of its matching
    children's BM25 scores. Child scores are 6dp-rounded then summed as
    DECIMAL(18,6) (order-free exact), and the mean divides the exact
    decimal total AS DOUBLE by the child count (the cross-engine-safe
    decimal-mean pattern) — so the avg is bit-identical at any partition
    count. Same one-groupBy parent rollup + bounded ranking as Max."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import bm25_scores

    ix = _gate_index(spark, sf_dir)
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    child = bm25_scores(spark, ix, queries)
    parents = (
        child.withColumn(
            "parent_id", F.floor(F.col("doc_id") / F.lit(width)).cast("long")
        )
        .groupBy("parent_id")
        .agg(
            F.round(
                F.sum(F.round(F.col("score"), 6).cast("decimal(18,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("score"),
            F.count(F.lit(1)).cast("long").alias("n_children"),
        )
    )
    return ranked_topk(
        parents, [F.desc("score"), F.asc("parent_id")], k
    ).select("parent_id", "score", "n_children", "rank")


def err_at_k(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = RANK_EVAL_K,
    min_terms: int = RANK_EVAL_MIN_TERMS,
) -> DataFrame:
    """Expected Reciprocal Rank @ k (Chapelle et al., CIKM'09) of the
    engine's own BM25 page — the cascade-model metric next to rank_eval's
    P/MRR/NDCG, sharing its derived graded labels (rel = distinct query
    terms matched - (min_terms-1), floored at 0). R_i = (2^rel - 1) /
    2^g_max with g_max pinned from the query shape, so every R is an
    exact DYADIC rational and the cascade products Π(1-R_j) are exact in
    float64; the ERR sum folds ascending-rank identically on both
    engines. The page is k-bounded, so the fold runs over one collected
    k-array — no driver loop, no unbounded window."""
    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )
    from lucene_mapreduce_spark.operators.parity import load

    terms = sorted(set(tokenize_string(query_text)))
    gmax = len(terms) - (min_terms - 1)
    denom = float(2**gmax)
    page = bm25_topk_documents(spark, sf_dir, query_text, k=k).select(
        "doc_id", "rank"
    )
    docs = load(spark, sf_dir, "documents")
    tarr = F.array(*[F.lit(t) for t in terms])
    nmatch = F.size(F.array_intersect(tarr, tokenize_col("text")))
    rels = docs.select(
        "doc_id",
        F.greatest(nmatch - F.lit(min_terms - 1), F.lit(0))
        .cast("long")
        .alias("rel"),
    )
    pg = (
        page.join(rels, "doc_id", "left")
        .na.fill({"rel": 0})
        .select("rank", F.col("rel").cast("double").alias("rel"))
    )
    row = pg.groupBy().agg(
        F.expr(
            "transform(sort_array(collect_list(struct(rank, rel))),"
            f" s -> (pow(2.0, s.rel) - 1.0) / {denom!r})"
        ).alias("rs"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rel"),
    )
    err = F.expr(
        "round(aggregate(sequence(1, size(rs)), cast(0.0 as double),"
        " (acc, i) -> acc + rs[i-1] / cast(i as double)"
        "   * aggregate(slice(rs, 1, i-1), cast(1.0 as double),"
        "               (p, r) -> p * (1.0 - r)),"
        " x -> x), 6)"
    )
    return row.select(err.alias("err"), "n_rel")


GLOBAL_AGG_TERM = "merge"


def global_agg(
    spark: SparkSession,
    sf_dir: str,
    term: str = GLOBAL_AGG_TERM,
) -> DataFrame:
    """ES `global` aggregation parity: a search runs in query context (a
    term query) while a sibling `global` bucket computes the same metrics
    over the WHOLE corpus, ignoring the query — the all-vs-matched
    comparison row every relevance dashboard shows. One scan: each doc
    explodes to its scope list (['query','global'] on hit, ['global']
    otherwise) and one groupBy aggregates both buckets; integer sums
    exact, means divide the exact totals as doubles."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import load

    docs = load(spark, sf_dir, "documents")
    hit = F.array_contains(tokenize_col("text"), term)
    scopes = F.when(
        hit, F.array(F.lit("query"), F.lit("global"))
    ).otherwise(F.array(F.lit("global")))
    return (
        docs.select(F.explode(scopes).alias("scope"), "n_chars")
        .groupBy("scope")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(
                F.sum("n_chars").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_chars"),
        )
        .orderBy("scope")
    )


# --- batch 51: Damerau-1 fuzzy, conversation block rollup --------------------

FUZZY_TRANS_QUERY = "tabel"  # OSA distance 1 from 'table' (transposition)


def damerau1_transpositions(term: str) -> list[str]:
    """All distinct adjacent-transposition variants of `term` (the extra
    neighbors Damerau/OSA distance 1 adds over Levenshtein 1). Lucene
    builds this automaton from the QUERY on the client — so the variant
    list is a plan-time literal, identical on every engine."""
    out = []
    for i in range(len(term) - 1):
        if term[i] != term[i + 1]:
            v = term[:i] + term[i + 1] + term[i] + term[i + 2 :]
            if v != term and v not in out:
                out.append(v)
    return out


def fuzzy_transpositions_query(
    spark: SparkSession,
    sf_dir: str,
    query_term: str = FUZZY_TRANS_QUERY,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """ES `fuzzy` with transpositions=true (the default) / Lucene
    FuzzyQuery(transpositions=true): the edit-distance automaton counts an
    adjacent transposition as ONE edit (optimal string alignment), so
    'tabel' reaches 'table' at distance 1 where plain Levenshtein needs 2.
    Expansion predicate: levenshtein <= 1 OR term in the query's
    transposition-variant set (client-built, like Lucene's LevenshteinAutomata)
    — then the expanded set scores as one BM25 query through the index
    path with the shared capped-expansion ranking rules."""
    ix = _gate_index(spark, sf_dir)
    variants = damerau1_transpositions(query_term)
    pred = F.levenshtein(F.col("term"), F.lit(query_term)) <= 1
    if variants:
        pred = pred | F.col("term").isin(variants)
    cands = _index_vocab(spark, ix).filter(pred)
    return _score_expanded(spark, ix, _expand_capped(cands, max_expansions), k)


def conversation_block_stats(
    spark: SparkSession,
    sf_dir: str,
    width: int = BLOCK_WIDTH,
) -> DataFrame:
    """Per-conversation rollup over the transcript docid-block layout
    (docids are conv<<20|turn in the engine; the gate corpus mirrors it
    as fixed-width blocks, same as block_join_topk): turns per
    conversation, total tokens, total chars, mean turn length — the
    per-conversation profile a transcript-curation pass reads before
    length/turn-count filtering. All sums are exact integers; the mean
    divides exact totals as doubles. One scan + one map-side-combinable
    groupBy on a derived key — no skew (blocks are fixed-width)."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import load

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.floor(F.col("doc_id") / F.lit(width)).cast("long").alias("conv_id"),
            F.size(tokenize_col("text")).cast("long").alias("toks"),
            F.col("n_chars"),
        )
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_turn_chars"),
        )
        .orderBy("conv_id")
    )


# --- batch 52: simple_query_string, MLT unlike, BM25+, terms include/exclude -

SQS_QUERY = 'slow | merge "fast scan" -dup'


def parse_simple_query_string(q: str) -> tuple[list, list[str]]:
    """ES SimpleQueryParser (paren-free subset): whitespace = AND,
    space-separated `|` = OR binding the adjacent atoms into one group,
    `-` negates, quotes make a phrase. Returns (groups, not_terms) where
    groups is a list of OR-groups and each atom is ('term', t) or
    ('phrase', tokens). Built client-side from the query string, like
    Lucene's parser — both engines see the same literal structure."""
    import re as _re

    from lucene_mapreduce_spark.functions.tokenize import tokenize_string

    parts = _re.findall(r'"[^"]*"|\S+', q)
    groups: list[list] = []
    nots: list[str] = []
    cur: list = []
    pending_or = False
    for p in parts:
        if p == "|":
            pending_or = True
            continue
        neg = p.startswith("-") and len(p) > 1
        if neg:
            p = p[1:]
        if p.startswith('"'):
            toks = tokenize_string(p.strip('"'))
            atoms = [("phrase", toks)] if toks else []
        else:
            atoms = [("term", t) for t in tokenize_string(p)]
        if not atoms:
            pending_or = False
            continue
        if neg:
            nots.extend(t for kind, t in atoms if kind == "term")
            pending_or = False
            continue
        if pending_or and cur:
            cur.extend(atoms)
        else:
            if cur:
                groups.append(cur)
            cur = list(atoms)
        pending_or = False
    if cur:
        groups.append(cur)
    return groups, sorted(set(nots))


def simple_query_string_query(
    spark: SparkSession,
    sf_dir: str,
    query: str = SQS_QUERY,
    k: int = 10,
) -> DataFrame:
    """ES `simple_query_string` parity (paren-free flags TERM|PHRASE|OR|
    NOT, default_operator=AND): the parsed OR-groups AND together, each
    group satisfied by any of its term/phrase atoms, `-` terms exclude.
    Scoring follows the parsed_query convention: BM25 over the positive
    TERMS with corpus-global stats restricted to the candidate set;
    phrase atoms gate membership but score 0 (constant-score), so a doc
    matching only via the phrase still returns. Every leg is an index
    read: per-group hit sets from pruned postings (boolean_match /
    phrase_match positional sidecar), intersected docid-wise; the NOT
    set is one anti-join."""
    from functools import reduce

    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.segments import (
        bm25_scores,
        boolean_match,
        phrase_match,
    )

    ix = _gate_index(spark, sf_dir)
    groups, nots = parse_simple_query_string(query)
    assert groups, "simple_query_string needs at least one positive group"

    def group_hits(g):
        legs = []
        terms = [t for kind, t in g if kind == "term"]
        if terms:
            legs.append(
                boolean_match(spark, ix, " ".join(terms), mode="or").select(
                    "doc_id"
                )
            )
        for kind, toks in g:
            if kind == "phrase":
                legs.append(
                    phrase_match(spark, ix, " ".join(toks)).select("doc_id")
                )
        return reduce(lambda a, b: a.unionByName(b), legs).distinct()

    cand = reduce(
        lambda a, b: a.join(b, "doc_id", "inner"),
        [group_hits(g) for g in groups],
    )
    if nots:
        cand = cand.join(
            boolean_match(spark, ix, " ".join(nots), mode="or").select("doc_id"),
            "doc_id",
            "left_anti",
        )
    scoring = sorted(
        {t for g in groups for kind, t in g if kind == "term"}
    )
    if scoring:
        q = spark.createDataFrame(
            [("q0", " ".join(scoring))], "query_id string, query_text string"
        )
        sc = bm25_scores(spark, ix, q, round_to=6).select("doc_id", "score")
        cand = cand.join(sc, "doc_id", "left").withColumn(
            "score", F.coalesce("score", F.lit(0.0))
        )
    else:
        cand = cand.withColumn("score", F.lit(0.0))
    return ranked_topk(cand, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


MLT_UNLIKE_DOC = 17  # negative exemplar: its terms are vetoed from the query


def mlt_unlike_topk(
    spark: SparkSession,
    sf_dir: str,
    src_doc: int = MLT_SRC_DOC,
    unlike_doc: int = MLT_UNLIKE_DOC,
    k: int = 10,
) -> DataFrame:
    """ES more_like_this with `unlike` parity: the negative exemplar's
    vocabulary is removed from the source doc's candidate terms BEFORE
    the tf*idf top-terms cut, steering the query away from what both
    docs share. Same metadata-scale term extraction + distributed BM25
    search as more_like_this; the unlike doc's token set comes from the
    same docstore point-read."""
    import numpy as np

    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.segments import more_like_this
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = _gate_index(spark, sf_dir)
    text = (
        IndexSearcher(ix)
        ._load_texts(np.asarray([unlike_doc], np.int64))
        .get(int(unlike_doc))
    )
    assert text is not None, f"doc {unlike_doc} not stored in {ix}"
    out = more_like_this(
        spark,
        ix,
        src_doc,
        k=k,
        round_to=6,
        exclude_terms=set(tokenize_string(text)),
    )
    return out.select("doc_id", "score", "rank")


BM25PLUS_DELTA = 1.0  # Lv & Zhai (CIKM'11) lower-bound bonus


def bm25plus_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    delta: float = BM25PLUS_DELTA,
    k: int = 10,
) -> DataFrame:
    """BM25+ (Lv & Zhai, CIKM'11): per matching term the saturation gets
    a +delta lower bound — score = Σ idf·(sat + δ) — fixing BM25's
    long-document penalty where a single occurrence in a long doc scores
    below epsilon. Published similarity next to the Lucene zoo
    (bm25_tuned exposes k1/b; this exposes the +δ axis). Scan path with
    the canonical ascending-term fold; ranks on the ROUNDED score
    (composite scoring rule)."""
    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    terms = sorted(set(tokenize_string(query_text)))
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", tokenize_col("text").alias("toks")
    )
    dl = docs.select("doc_id", F.size("toks").cast("double").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    post = (
        docs.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dft = post.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df_t"))
    from lucene_mapreduce_spark.query.bm25 import B, K1

    j = (
        post.join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = bm25_idf_col("df_t", "n_docs")
    sat = (F.col("tf") * F.lit(K1 + 1.0)) / (
        F.col("tf") + F.lit(K1) * (1 - B + B * F.col("dl") / F.col("avgdl"))
    )
    contrib = idf * (sat + F.lit(delta))
    agg = (
        j.select("doc_id", "term", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(canonical_sum("c", "term").alias("score"))
        .select("doc_id", F.round("score", 6).alias("score"))
    )
    return ranked_topk(agg, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


TERMS_INCLUDE = "^s.*"  # terms-agg include regex
TERMS_EXCLUDE = ("scan", "slow")  # terms-agg exclude list


def terms_agg_include_exclude(
    spark: SparkSession,
    sf_dir: str,
    include: str = TERMS_INCLUDE,
    exclude: tuple = TERMS_EXCLUDE,
    k: int = 20,
) -> DataFrame:
    """ES terms aggregation with `include` (regex) and `exclude` (exact
    list) parity over the token vocabulary: doc-frequency buckets for
    terms matching the include pattern minus the exclusions, top-k by
    (doc_count desc, term asc). The include/exclude filter applies
    BEFORE the ranking cut, like ES. One explode + distinct + groupBy —
    the vocabulary-bounded agg shape."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
        .distinct()
        .filter(F.col("term").rlike(include))
        .filter(~F.col("term").isin(list(exclude)))
    )
    counts = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("doc_count")
    )
    return ranked_topk(
        counts, [F.desc("doc_count"), F.asc("term")], k
    ).select("term", "doc_count", "rank")


# ------------------------------------------------- batch 53: query surface
MULTI_PHRASE = ("fast", ("merge", "sort"))  # slot 0 term, slot 1 synonyms


def multi_phrase_query(
    spark: SparkSession,
    sf_dir: str,
    first: str = MULTI_PHRASE[0],
    alts: tuple = MULTI_PHRASE[1],
    k: int = 0,
) -> DataFrame:
    """Lucene MultiPhraseQuery parity (the synonym-slot phrase the
    QueryParser builds for analyzer-injected synonyms): position p must
    hold `first` and position p+1 any of `alts` — "fast (merge|sort)".
    Both legs are pruned positional-sidecar reads; the adjacency check is
    one codegen exists/exists over the joined position arrays (the
    span_or_near pattern with an exact +1 offset instead of a window).
    Reference: query grammar surface, XdiReportReducer.java:356."""
    from lucene_mapreduce_spark.query.segments import read_positions

    ix = _gate_index(spark, sf_dir)
    pos = read_positions(spark, ix, sorted({first, *alts}))
    pa = pos.filter(F.col("term") == first).select(
        "doc_id", F.col("positions").alias("pa")
    )
    pb = (
        pos.filter(F.col("term").isin(list(alts)))
        .groupBy("doc_id")
        .agg(F.flatten(F.collect_list("positions")).alias("pb"))
    )
    j = pa.join(pb, "doc_id")
    hit = F.exists(
        "pa", lambda p: F.exists("pb", lambda q: q == p + F.lit(1))
    )
    return j.filter(hit).select("doc_id").orderBy("doc_id")


FUZZY_SUGGEST_INPUT = "ba"  # typo-tolerant completion input


def fuzzy_autocomplete(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = FUZZY_SUGGEST_INPUT,
    max_edits: int = 1,
    k: int = 5,
) -> DataFrame:
    """Lucene FuzzySuggester parity (typo-tolerant completion): dictionary
    terms whose length-|input| prefix is within `max_edits` Levenshtein
    edits of the input, ranked by collection frequency desc (term asc
    ties) — autocomplete that survives a typo in the prefix. Served from
    the term-dictionary sidecar like autocomplete/spell_suggest; the
    edit check is the engines' shared exact levenshtein()."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    ix = _gate_index(spark, sf_dir)
    dic = _dictionary_stats(spark, ix).select("term", "cf")
    cands = dic.withColumn(
        "dist",
        F.levenshtein(
            F.substring(F.col("term"), 1, len(prefix)), F.lit(prefix)
        ).cast("int"),
    ).filter(F.col("dist") <= max_edits)
    return ranked_topk(
        cands, [F.desc("cf"), F.asc("term")], k
    ).select("term", "dist", "cf", "rank")


RM3_EXPANSION_K = 15  # expansion terms returned


def rm3_expansion_terms(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    fb_k: int = PRF_FEEDBACK_K,
    k: int = RM3_EXPANSION_K,
) -> DataFrame:
    """RM1/RM3 relevance-model expansion terms (Lavrenko & Croft 2001 —
    the language-model PRF sibling of rocchio_prf_topk, which re-ranks
    docs; this returns the model itself, the artifact a query-expansion
    service caches): rank the flagship query by BM25, take the top fb_k
    docs with rank-decay weights 1/r, and score each non-query term by
    sum_d (tf_td / dl_d) / rank_d — P(w|d) under the doc LM, rank-
    discounted. Feedback membership cuts on the 6dp-ROUNDED BM25 score
    (rocchio's pinned rule); per-term sums over the <= fb_k contributions
    are rounded 12dp and summed DECIMAL(28,12) — order-free exact."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_string
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk
    from lucene_mapreduce_spark.query.bm25 import B, K1

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
    doclens = docs.select(
        "doc_id", F.size(tokenize_col("text")).cast("double").alias("dl")
    )
    stats = doclens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    postings = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfs = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df_t")
    )
    qts = sorted(set(tokenize_string(query_text)))
    qdf = spark.createDataFrame([(t,) for t in qts], "term string")
    idf = bm25_idf_col("df_t", "n_docs")
    tfn = (
        F.col("tf")
        * F.lit(K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(K1)
            * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / F.col("avgdl"))
        )
    )
    c1 = (
        postings.join(F.broadcast(qdf), "term")
        .join(dfs, "term")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", (idf * tfn).alias("contrib"))
    )
    s1 = c1.groupBy("doc_id").agg(
        F.round(canonical_sum("contrib", "term"), 6).alias("score")
    )
    feedback = ranked_topk(
        s1, [F.desc("score"), F.asc("doc_id")], fb_k
    ).select("doc_id", F.col("rank").cast("double").alias("r"))
    contrib = F.round(
        (F.col("tf") / F.col("dl")) / F.col("r"), 12
    ).cast("decimal(28,12)")
    rm = (
        postings.join(F.broadcast(feedback), "doc_id")
        .join(doclens, "doc_id")
        .where(~F.col("term").isin(qts))
        .select("term", contrib.alias("c"))
        .groupBy("term")
        .agg(F.round(F.sum("c").cast("double"), 6).alias("rm_score"))
    )
    return ranked_topk(
        rm, [F.desc("rm_score"), F.asc("term")], k
    ).select("term", "rm_score", "rank")


TERMS_PARTITION = 0  # which partition this page fetches
TERMS_NUM_PARTITIONS = 4


def terms_partition_agg(
    spark: SparkSession,
    sf_dir: str,
    partition: int = TERMS_PARTITION,
    num_partitions: int = TERMS_NUM_PARTITIONS,
    k: int = 15,
) -> DataFrame:
    """ES terms aggregation with `include: {partition, num_partitions}`
    parity — the paging protocol for huge-cardinality term sets: each
    request processes only the terms whose hash lands in one partition,
    so a client walks the full vocabulary in num_partitions bounded
    pages. Partitioning hash is the engine-shared 52-bit md5 (the house
    rule: never engine-native hash in oracle-checked paths); buckets are
    doc_count, top-k (doc_count desc, term asc) within the partition."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk
    from lucene_mapreduce_spark.operators.textstats import _md5_52

    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
        .distinct()
        .filter(_md5_52(F.col("term")) % num_partitions == partition)
    )
    counts = tok.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("doc_count")
    )
    return ranked_topk(
        counts, [F.desc("doc_count"), F.asc("term")], k
    ).select("term", "doc_count", "rank")


# ------------------------------------------------------- batch 58
GRAPH_SEED_TERM = "table"
GRAPH_H1 = 5
GRAPH_H2 = 3


def graph_explore(
    spark: SparkSession,
    sf_dir: str,
    seed: str = GRAPH_SEED_TERM,
    h1: int = GRAPH_H1,
    h2: int = GRAPH_H2,
) -> DataFrame:
    """ES Graph-API explore parity (the `_graph/explore` 2-hop walk):
    from a seed term, hop-1 vertices are the `h1` terms most often
    co-occurring with the seed (count of shared docs — the simplest
    significance mode, `use_significance: false`); hop 2 expands each
    hop-1 vertex to its `h2` strongest co-occurring terms excluding the
    seed and every hop-1 vertex. Scores are exact BIGINT doc counts (no
    float anywhere); ties break term-ascending. Output = the connections
    table (depth, parent, term, score, per-parent rank).

    Scale shape: the term-doc relation is the distinct postings pair set
    (token-volume explode collapsed by distinct — one shuffle); each hop
    is an equi-join on doc_id + one map-side-combinable count. The only
    driver materialization is the h1-row frontier (bounded by the h1
    parameter, never the corpus)."""
    from pyspark.sql import Window

    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize_col("text"))).alias("term")
    )
    seed_docs = dt.filter(F.col("term") == seed).select("doc_id")
    h1_counts = (
        dt.join(seed_docs, "doc_id")
        .filter(F.col("term") != seed)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("score"))
    )
    hop1 = ranked_topk(h1_counts, [F.desc("score"), F.asc("term")], h1)
    # bounded frontier: exactly h1 rows cross the driver
    hop1_terms = [r["term"] for r in hop1.select("term").collect()]
    parents = dt.filter(F.col("term").isin(hop1_terms)).select(
        "doc_id", F.col("term").alias("parent")
    )
    excluded = hop1_terms + [seed]
    h2_counts = (
        parents.join(dt, "doc_id")
        .filter(~F.col("term").isin(excluded))
        .groupBy("parent", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("score"))
    )
    w = Window.partitionBy("parent").orderBy(F.desc("score"), F.asc("term"))
    hop2 = (
        h2_counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= h2)
    )
    d1 = hop1.select(
        F.lit(1).alias("depth"),
        F.lit(seed).alias("parent"),
        "term",
        "score",
        "rank",
    )
    d2 = hop2.select(F.lit(2).alias("depth"), "parent", "term", "score", "rank")
    return d1.unionByName(d2).orderBy("depth", "parent", "rank")


LTR_K = 20


def ltr_feature_log(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = LTR_K,
) -> DataFrame:
    """Learning-to-rank feature extraction (the ES LTR plugin's
    feature-logging mode / Lucene expressions feature sets): for the
    top-k BM25 hits of the flagship query, emit the per-(query, doc)
    feature vector a ranker trains on — matched-term count, total and
    max tf, min df across matched terms, doc length, and the BM25 score
    itself. Integer features are exact; the only float is the
    6dp-rounded canonical-fold BM25 (rank on the ROUNDED score both
    engines — the house rule). One postings build + broadcast qterm
    joins; features ride the same groupBy that folds the score."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    postings, doclens = corpus_postings(docs)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qts = sorted(set(tokenize_string(query_text)))
    qframe = spark.createDataFrame([(t,) for t in qts], "term string")
    df_t = (
        postings.join(F.broadcast(qframe), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )
    matched = (
        postings.join(F.broadcast(qframe), "term")
        .join(F.broadcast(df_t), "term")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    contrib = bm25_contrib_col(
        F.col("tf").cast("double"),
        F.col("dl").cast("double"),
        "avgdl",
        bm25_idf_col("df_t", "n_docs"),
    )
    feats = (
        matched.select(
            "doc_id", "term", "tf", "df_t", "dl", contrib.alias("contrib")
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum("tf").cast("long").alias("sum_tf"),
            F.max("tf").cast("long").alias("max_tf"),
            F.min("df_t").cast("long").alias("min_df"),
            F.max("dl").cast("long").alias("dl"),
            F.round(canonical_sum("contrib", "term"), 6).alias("bm25"),
        )
    )
    return ranked_topk(feats, [F.desc("bm25"), F.asc("doc_id")], k).select(
        "doc_id", "n_matched", "sum_tf", "max_tf", "min_df", "dl", "bm25", "rank"
    )


def query_relaxation_ladder(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
) -> DataFrame:
    """Query-relaxation ladder (the zero-results fallback a search box
    runs — ES `common_terms`/cutoff thinking applied as progressive
    term dropping): starting from the full conjunction, drop the
    COMMONEST remaining term (global df desc, term asc ties) one step
    at a time down to the single rarest term, and report the hit count
    at every step. Step k's hit set = docs containing every surviving
    term — computed in ONE pass: per-doc matched-term sets against the
    (broadcast) query vocabulary, then k cumulative containment counts
    ride the same aggregate. The only driver materialization is the
    |q|-row df table that fixes the drop order. All-integer output."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col, tokenize_string

    docs = load(spark, sf_dir, "documents")
    qts = sorted(set(tokenize_string(query_text)))
    toks = F.array_distinct(tokenize_col("text"))
    qarr = F.array(*[F.lit(t) for t in qts])
    matched = docs.select(
        "doc_id", F.array_intersect(toks, qarr).alias("mt")
    ).filter(F.size("mt") > 0)
    # |q| rows cross the driver: the drop order (df desc, term asc)
    df_rows = (
        matched.select(F.explode("mt").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .collect()
    )
    dfs = {r["term"]: r["df_t"] for r in df_rows}
    order = sorted(qts, key=lambda t: (-dfs.get(t, 0), t))
    step_aggs = []
    for k in range(len(order)):
        remaining = order[k:]
        need = F.array(*[F.lit(t) for t in remaining])
        hit = F.size(F.array_intersect(F.col("mt"), need)) == len(remaining)
        step_aggs.append(
            F.sum(hit.cast("int")).cast("long").alias(f"h_{k}")
        )
    counts = matched.agg(*step_aggs).collect()[0]
    rows = [
        (k, len(order) - k, ",".join(sorted(order[k:])), int(counts[f"h_{k}"]))
        for k in range(len(order))
    ]
    return spark.createDataFrame(
        rows, "step int, n_terms int, terms string, n_hits bigint"
    ).orderBy("step")


MW_SYNONYM_TERM = "merge"
MW_SYNONYM_PHRASE = ("hash", "join")


def multiword_synonym_query(
    spark: SparkSession,
    sf_dir: str,
    term: str = MW_SYNONYM_TERM,
    phrase: tuple = MW_SYNONYM_PHRASE,
    k: int = 10,
) -> DataFrame:
    """Multi-word synonym parity (SynonymGraphFilter at query time — the
    graph case SynonymQuery alone can't express: one side of the synonym
    set is a PHRASE): 'merge' ≡ "hash join". The phrase side scores like
    a term whose tf is the adjacent-occurrence count and whose df is the
    docs containing >= 1 occurrence; the set then blends exactly like
    synonym_query — tf = sum of member tfs (integers), df = max of
    member dfs, one pass through BM25. Everything before the single
    scoring expression is integer arithmetic, so no accumulation-order
    hazard exists; rank on the 6dp-rounded score. One corpus scan, two
    scalar aggregates broadcast into the scoring projection.

    Phrase-tf guard: Spark sequence(1, n) DESCENDS when n < 1 (the
    batch-11 trap) — docs shorter than the phrase pin tf_p = 0."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.bm25 import B, K1

    w0, w1 = phrase
    docs = load(spark, sf_dir, "documents")
    t = tokenize_col("text")
    tf_t = F.size(F.filter(t, lambda x: x == F.lit(term)))
    tf_p = F.when(
        F.size(t) >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: (F.element_at(t, i) == F.lit(w0))
                & (F.element_at(t, i + 1) == F.lit(w1)),
            )
        ),
    ).otherwise(F.lit(0))
    per = docs.select(
        "doc_id",
        F.size(t).cast("long").alias("dl"),
        tf_t.cast("long").alias("tf_t"),
        tf_p.cast("long").alias("tf_p"),
    )
    stats = per.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
        F.sum((F.col("tf_t") > 0).cast("int")).cast("double").alias("df_t"),
        F.sum((F.col("tf_p") > 0).cast("int")).cast("double").alias("df_p"),
    )
    m = (
        per.filter((F.col("tf_t") > 0) | (F.col("tf_p") > 0))
        .crossJoin(F.broadcast(stats))
        .withColumn("tf", (F.col("tf_t") + F.col("tf_p")).cast("double"))
        .withColumn("df_b", F.greatest("df_t", "df_p"))
    )
    idf = bm25_idf_col("df_b", "n_docs")
    denom = F.col("tf") + F.lit(K1) * (
        F.lit(1.0 - B) + F.lit(B) * F.col("dl").cast("double") / F.col("avgdl")
    )
    scored = m.select(
        "doc_id",
        F.round(idf * F.col("tf") * F.lit(K1 + 1.0) / denom, 6).alias("score"),
    )
    return ranked_topk(scored, [F.desc("score"), F.asc("doc_id")], k).select(
        "doc_id", "score", "rank"
    )


BM25_SWEEP_COMBOS = ((0.9, 0.3), (1.5, 0.6), (2.0, 0.9))


def bm25_param_sweep_overlap(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    combos: tuple = BM25_SWEEP_COMBOS,
    k: int = 10,
) -> DataFrame:
    """BM25 (k1, b) tuning audit: for each candidate parameter point,
    how much of the DEFAULT top-k page survives — the cheap first look
    a relevance engineer takes before rank-correlation studies
    (bm25_tuned_topk exposes one point; this sweeps the grid). Each leg
    is the same scan-path BM25 with rounded-score ranking; pages are
    k-row driver materializations (bounded by k x |combos|, never the
    corpus), intersected as Python sets."""
    from lucene_mapreduce_spark.query.bm25 import B as _B
    from lucene_mapreduce_spark.query.bm25 import K1 as _K1

    default_ids = {
        r["doc_id"]
        for r in bm25_tuned_topk(
            spark, sf_dir, query_text, k1=_K1, b=_B, k=k
        ).collect()
    }
    rows = []
    for k1, b in combos:
        ids = {
            r["doc_id"]
            for r in bm25_tuned_topk(
                spark, sf_dir, query_text, k1=k1, b=b, k=k
            ).collect()
        }
        rows.append((float(k1), float(b), len(ids & default_ids)))
    return spark.createDataFrame(
        rows, "k1 double, b double, n_common bigint"
    ).orderBy("k1", "b")


def percolate_pruned(
    spark: SparkSession,
    sf_dir: str,
    queries: tuple[tuple[str, str], ...] = PERCOLATE_QUERIES,
) -> DataFrame:
    """Percolator with the RAREST-TERM reverse index — the scale
    optimization real percolators run (Lucene's TermsQuery pre-filter /
    ES percolator's extraction phase): a doc can only fire query q if it
    contains q's globally rarest term, so candidate (query, doc) pairs
    come from the rarest-term postings alone (Σ df(rarest) rows, a tiny
    fraction of the full registry-term join), and only candidates pay
    the conjunctive verification. Must return EXACTLY percolate_match's
    rows — same oracle SQL, different (cheaper) physical plan; the
    gate proves the prune loses nothing. Registry df ranking is a
    |union-terms|-row driver materialization (registry-scale, never
    corpus-scale)."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.segments import read_postings

    ix = _gate_index(spark, sf_dir)
    reg = [
        (qid, t)
        for qid, qtext in queries
        for t in sorted(set(tokenize_string(qtext)))
    ]
    need = {qid: len({t for q, t in reg if q == qid}) for qid, _ in queries}
    terms = sorted({t for _, t in reg})
    pos = read_postings(spark, ix, terms).select("term", "doc_id")
    dfs = {
        r["term"]: r["n"]
        for r in pos.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rarest = {
        qid: min(
            (t for q, t in reg if q == qid),
            key=lambda t: (dfs.get(t, 0), t),
        )
        for qid, _ in queries
    }
    rarestdf = spark.createDataFrame(
        sorted(rarest.items()), "query_id string, term string"
    )
    cand = (
        pos.join(F.broadcast(rarestdf), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    regdf = spark.createDataFrame(reg, "query_id string, term string")
    needdf = spark.createDataFrame(
        sorted(need.items()), "query_id string, n_terms int"
    )
    hits = (
        pos.join(F.broadcast(regdf), "term")
        .join(cand, ["query_id", "doc_id"], "left_semi")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("m"))
        .join(F.broadcast(needdf), "query_id")
        .filter(F.col("m") == F.col("n_terms"))
    )
    return hits.select("query_id", "doc_id").orderBy("query_id", "doc_id")


SORT_MISSING_K = 20


def search_sort_missing_last(
    spark: SparkSession, sf_dir: str, k: int = SORT_MISSING_K
) -> DataFrame:
    """Lucene SortField.setMissingValue parity: a MatchAllDocsQuery
    sorted ascending by a sparse numeric doc value with missing values
    forced LAST (setMissingValue(Long.MAX_VALUE)), doc_id as the
    index-order tiebreak. The sparse field is the shared md5-derived
    contract: num = n_chars where md5(doc_id:'mv') keeps ~3/4 of docs,
    NULL otherwise — so the page crosses the present/missing boundary
    only at corpus sizes below k and the NULLS LAST semantics are what
    the gate pins. TakeOrderedAndProject, never a global window."""
    from lucene_mapreduce_spark.operators.parity import load, ranked_topk

    docs = load(spark, sf_dir, "documents")
    present = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"), F.lit(":mv")
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(4),
        )
        != 0
    )
    vals = docs.select(
        "doc_id",
        F.when(present, F.col("n_chars").cast("long")).alias("num"),
    )
    return ranked_topk(
        vals, [F.asc_nulls_last("num"), F.asc("doc_id")], k
    ).select("rank", "doc_id", "num")


# --- batch 78: shingle-field BM25 + index-sort early-termination plan ------
SHINGLE_W = 0.4  # phrase-leg weight (ES index_phrases / common-grams boost)


def shingle_field_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    w_shingle: float = SHINGLE_W,
    k: int = 10,
) -> DataFrame:
    """Index-time shingle field (Lucene ShingleFilter / ES
    `index_phrases: true`): the score is unigram BM25 plus w_shingle x
    BM25 over a 2-gram shingle field with its OWN statistics (df over
    bigram postings, dl2 = tokens-1, avgdl2 over docs that HAVE the
    field, i.e. >= 2 tokens — Lucene field norms average over docs
    carrying the field). Query shingles are the adjacent token pairs of
    the raw query. This buys match_phrase-adjacent ranking without
    positions at query time — the classic index-fatter/query-faster
    trade. Each leg accumulates canonically ascending by its term; the
    legs combine UNROUNDED and the sum rounds at 6dp for ranking (the
    composite-score house rule). Two groupBys per leg, all
    corpus-scan-shaped; no positions sidecar needed."""
    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_col("text").alias("toks"))

    qtok = tokenize_string(query_text)
    quni = sorted(set(qtok))
    qbi = sorted({f"{a} {b}" for a, b in zip(qtok, qtok[1:])})

    def leg(postings: DataFrame, doclens: DataFrame, qlist: list[str]):
        stats = doclens.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg(F.col("dl").cast("double")).alias("avgdl"),
        )
        qdf = spark.createDataFrame(
            [(t,) for t in qlist], "term string"
        )
        hits = postings.join(F.broadcast(qdf), "term")
        df_t = hits.groupBy("term").agg(
            F.count(F.lit(1)).cast("double").alias("df_t")
        )
        m = (
            hits.join(F.broadcast(df_t), "term")
            .join(doclens, "doc_id")
            .crossJoin(F.broadcast(stats))
        )
        contrib = bm25_contrib_col(
            F.col("tf").cast("double"),
            F.col("dl").cast("double"),
            "avgdl",
            bm25_idf_col("df_t", "n_docs"),
        )
        return (
            m.select("doc_id", "term", contrib.alias("contrib"))
            .groupBy("doc_id")
            .agg(canonical_sum("contrib", "term").alias("score"))
        )

    uni_postings = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    uni_dl = toks.select("doc_id", F.size("toks").alias("dl"))
    s1 = leg(uni_postings, uni_dl, quni).withColumnRenamed(
        "score", "s_uni"
    )

    bi = toks.where(F.size("toks") >= 2)
    bi_postings = (
        bi.select(
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
            ).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    bi_dl = bi.select("doc_id", (F.size("toks") - 1).alias("dl"))
    s2 = leg(bi_postings, bi_dl, qbi).withColumnRenamed("score", "s_bi")

    both = s1.join(s2, "doc_id", "full").select(
        "doc_id",
        F.coalesce(F.col("s_uni"), F.lit(0.0)).alias("s_uni"),
        F.coalesce(F.col("s_bi"), F.lit(0.0)).alias("s_bi"),
    )
    scored = both.select(
        "doc_id",
        F.round(
            F.col("s_uni") + F.lit(float(w_shingle)) * F.col("s_bi"), 6
        ).alias("score"),
        F.round("s_bi", 6).alias("shingle_score"),
    )
    return ranked_topk(
        scored, [F.desc("score"), F.asc("doc_id")], k
    ).select("doc_id", "score", "shingle_score", "rank")


SORT_PLAN_SEGMENTS = 8
SORT_PLAN_K = 100


def index_sort_plan(
    spark: SparkSession,
    sf_dir: str,
    n_segments: int = SORT_PLAN_SEGMENTS,
    k: int = SORT_PLAN_K,
) -> DataFrame:
    """Lucene IndexSorting early-termination plan
    (IndexWriterConfig.setIndexSort + TopFieldCollector's
    canEarlyTerminate path): if every segment is sorted by the query
    sort (n_chars DESC, doc_id ASC), a global top-k needs at most the
    deepest per-segment rank that the true top-k reaches — everything
    below is provably unreachable and never scanned. The report, per
    segment (doc_id mod n_segments, the arrival-ish spread): segment
    size, how many of its docs made the global top-k, the deepest
    sorted rank the collector must visit, and the rows early
    termination saves. Global top-k rides ranked_topk
    (TakeOrderedAndProject — no corpus-wide window); per-segment ranks
    window inside the segment partition. All integer."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    seg = docs.withColumn(
        "seg", F.pmod(F.col("doc_id"), F.lit(n_segments)).cast("int")
    )
    wseg = Window.partitionBy("seg").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    ranked = seg.withColumn("r", F.row_number().over(wseg))
    topk = ranked_topk(
        docs, [F.desc("n_chars"), F.asc("doc_id")], k
    ).select("doc_id")
    j = ranked.join(
        F.broadcast(topk.withColumn("hit", F.lit(1))), "doc_id", "left"
    )
    return (
        j.groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_in_topk"),
            F.coalesce(
                F.max(F.when(F.col("hit") == 1, F.col("r"))), F.lit(0)
            )
            .cast("long")
            .alias("deepest_rank_needed"),
        )
        .select(
            "seg",
            "n_docs",
            "n_in_topk",
            "deepest_rank_needed",
            (F.col("n_docs") - F.col("deepest_rank_needed"))
            .cast("long")
            .alias("rows_saved"),
        )
        .orderBy("seg")
    )


# --- batch 86: decompounder + date-math range + set ops ---------------------
COMPOUND_INPUTS = ("tablescan", "fastmerge", "sortkey", "bigdata", "xqzzy")


def compound_split_suggest(
    spark: SparkSession,
    sf_dir: str,
    inputs: tuple = COMPOUND_INPUTS,
) -> DataFrame:
    """Dictionary decompounder (Lucene
    DictionaryCompoundWordTokenFilter / ES query segmentation): each
    unsegmented input enumerates every split point; splits whose BOTH
    halves are corpus dictionary terms rank by cf(left)*cf(right) —
    exact BIGINT products, the unigram-LM segmentation score. Inputs
    with no valid split (the last probe) emit nothing. The dictionary
    is the corpus term->cf table (vocabulary-sized, broadcast); split
    enumeration is input-length-bounded codegen — no UDF."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    probes = spark.createDataFrame(
        [(s,) for s in inputs], "input string"
    )
    splits = probes.select(
        "input",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("input") - 1),
                lambda i: F.struct(
                    F.substring(F.col("input"), F.lit(1), i).alias(
                        "left"
                    ),
                    F.col("input")
                    .substr(i + F.lit(1), F.length("input"))
                    .alias("right"),
                ),
            )
        ).alias("sp"),
    ).select("input", F.col("sp.left").alias("lft"), F.col("sp.right").alias("rgt"))
    lv = vocab.select(
        F.col("term").alias("lft"), F.col("cf").alias("cf_left")
    )
    rv = vocab.select(
        F.col("term").alias("rgt"), F.col("cf").alias("cf_right")
    )
    valid = (
        splits.join(F.broadcast(lv), "lft")
        .join(F.broadcast(rv), "rgt")
        .select(
            "input",
            "lft",
            "rgt",
            "cf_left",
            "cf_right",
            (F.col("cf_left") * F.col("cf_right"))
            .cast("long")
            .alias("score"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("input").orderBy(
        F.desc("score"), F.asc("lft")
    )
    return (
        valid.withColumn("rank", F.row_number().over(w))
        .select(
            "input", "lft", "rgt", "cf_left", "cf_right", "score", "rank"
        )
        .orderBy("input", "rank")
    )


DATE_MATH_DAYS = 7  # the "now-7d" window


def date_math_range_query(
    spark: SparkSession, sf_dir: str, days: int = DATE_MATH_DAYS
) -> DataFrame:
    """ES date-math range query (`{"range": {"ts": {"gte": "now-7d",
    "lte": "now"}}}`): `now` anchors to the stream's max timestamp (the
    deterministic stand-in for wall clock), the window is the pinned
    day span, and the page reports the match count plus an md5 witness
    over the ascending matched event ids — the count+witness contract
    the redaction/trim gates use. One scan with an aggregate-derived
    bound."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    now = ev.agg(F.max("us").alias("now_us"))
    j = ev.crossJoin(F.broadcast(now)).filter(
        (F.col("us") >= F.col("now_us") - F.lit(days * 86400000000))
        & (F.col("us") <= F.col("now_us"))
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min("event_id").cast("long").alias("first_id"),
        F.max("event_id").cast("long").alias("last_id"),
        F.md5(
            F.array_join(
                F.sort_array(
                    F.collect_list(F.col("event_id").cast("string"))
                ),
                ",",
            )
        ).alias("witness"),
    )


def set_operations_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.6 set-operation surface in one gate: the user-id sets
    who viewed INTERSECT purchased, viewed EXCEPT purchased, and the
    distinct UNION — each leg a relational set op (not hand-rolled
    joins), counts plus an md5 witness over the ascending member list.
    Set ops distribute as hash shuffles on the id — the exact shape
    Spark compiles them to."""
    ev = load(spark, sf_dir, "events")

    def leg(t: str):
        return ev.filter(F.col("event_type") == t).select(
            "user_id"
        ).distinct()

    v, p, e = leg("view"), leg("purchase"), leg("error")
    ops = {
        "view_intersect_purchase": v.intersect(p),
        "view_except_purchase": v.exceptAll(p).distinct(),
        "view_union_error": v.union(e).distinct(),
    }
    out = None
    for name, df in ops.items():
        row = df.agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.md5(
                F.array_join(
                    F.sort_array(
                        F.collect_list(F.col("user_id").cast("string"))
                    ),
                    ",",
                )
            ).alias("witness"),
        ).select(F.lit(name).alias("op"), "n_users", "witness")
        out = row if out is None else out.unionByName(row)
    return out.orderBy("op")


def posting_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list doc-id gap statistics per df decade — the number
    that sizes delta+varbyte posting compression (index/codec.py's
    encode budget): for each term, the mean doc-id gap is EXACTLY
    (max_id - min_id) / (df - 1) — no per-posting lag pass needed —
    and terms aggregate by integer log10(df) decade (digit count, the
    log_merge_plan rule). Per decade: term count, mean of mean-gaps
    (12dp DECIMAL re-entry), and the varbyte bytes/posting that gap
    implies (integer bit-length of the rounded mean gap). Vocabulary-
    sized everything after the one postings groupBy."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents")
    post = (
        docs.select(
            "doc_id", F.explode(tokenize_col("text")).alias("term")
        )
        .groupBy("term")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("df"),
            F.min("doc_id").cast("long").alias("lo"),
            F.max("doc_id").cast("long").alias("hi"),
        )
        .filter(F.col("df") >= 2)
    )
    per_term = post.select(
        F.length(F.col("df").cast("string")).cast("int").alias("decade"),
        (
            (F.col("hi") - F.col("lo")).cast("double")
            / (F.col("df") - 1).cast("double")
        ).alias("mean_gap"),
    )
    agg = per_term.groupBy("decade").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(
            F.sum(
                F.round(F.col("mean_gap"), 12).cast("decimal(28,12)")
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_of_mean_gaps"),
    )
    vb = F.when(
        F.col("mean_of_mean_gaps") < 1, F.lit(1)
    ).otherwise(
        F.floor(
            (
                F.length(
                    F.bin(
                        F.round(F.col("mean_of_mean_gaps"), 0).cast(
                            "long"
                        )
                    )
                )
                + 6
            )
            / 7
        )
    ).cast("int")
    return agg.select(
        "decade", "n_terms", "mean_of_mean_gaps",
        vb.alias("varbyte_bytes_per_gap"),
    ).orderBy("decade")


STOPWORD_KS = (1, 2, 4, 8)


def stopword_pruning_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-pruning capacity plan: if the top-k df terms were
    dropped at index time (Lucene's classic stopword file / ES
    common-grams cutover), how many postings disappear — one row per
    pinned k with the dropped-posting count and the fraction of the
    corpus posting volume (df-summed). The top-k cut rides the
    ranked_topk discipline over the vocabulary; exact integers plus
    one ratio."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    dfT = (
        docs.select(
            "doc_id", F.explode(tokenize_col("text")).alias("term")
        )
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    total = dfT.agg(F.sum("df").cast("long").alias("total_postings"))
    ranked = dfT.select(
        "df",
        F.row_number()
        .over(Window.orderBy(F.desc("df"), F.asc("term")))
        .alias("r"),
    )
    out = None
    for k in STOPWORD_KS:
        row = (
            ranked.filter(F.col("r") <= k)
            .agg(F.sum("df").cast("long").alias("dropped"))
            .crossJoin(F.broadcast(total))
            .select(
                F.lit(k).cast("int").alias("k"),
                "dropped",
                "total_postings",
                F.round(
                    F.col("dropped").cast("double")
                    / F.col("total_postings").cast("double"),
                    6,
                ).alias("fraction_saved"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# Batch 124: best-passage highlight, FST dictionary stats, team-draft
# interleaving
# ---------------------------------------------------------------------------

PASSAGE_W = 8  # tokens per passage window
TEAM_DRAFT_L = 10


def best_passage_highlight(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = 10,
    width: int = PASSAGE_W,
) -> DataFrame:
    """Lucene UnifiedHighlighter PASSAGE SCORING parity (the part
    highlight_all_fragments skips): for each of the query's top-k docs,
    every width-token window is scored by the sum of BM25-idf weights
    of the DISTINCT query terms it contains, and the best window wins
    (rounded-score rank, earliest start on ties — the expansion-query
    rule).  Weights are 12dp-rounded DECIMALs so the per-window sum is
    order-free; window enumeration is a codegen sequence/slice chain
    over the k result docs only — hits-sized, never corpus-sized."""
    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )

    docs = load(spark, sf_dir, "documents")
    topk = bm25_topk_documents(spark, sf_dir, query_text, k)
    qts = sorted(set(tokenize_string(query_text)))
    tokd = docs.select("doc_id", tokenize_col("text").alias("toks"))
    n_docs = docs.count()
    dfs = (
        tokd.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(qts))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df_t"))
    )
    w12 = F.round(
        bm25_idf_col(F.col("df_t").cast("double"), n_docs),
        12,
    ).cast("decimal(28,12)")
    weights = dfs.select("term", w12.alias("w"))
    j = topk.join(tokd, "doc_id")
    starts = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.size("toks") - F.lit(width - 1))
    )
    wins = j.select(
        "doc_id", "rank", "toks", F.explode(starts).alias("i")
    )
    hit = wins.crossJoin(F.broadcast(weights)).filter(
        F.exists(
            F.slice("toks", F.col("i"), width),
            lambda x: x == F.col("term"),
        )
    )
    scored = hit.groupBy("doc_id", "rank", "i").agg(
        F.round(F.sum("w").cast("double"), 6).alias("passage_score")
    )
    from pyspark.sql.window import Window

    wb = Window.partitionBy("doc_id").orderBy(
        F.col("passage_score").desc(), F.col("i").asc()
    )
    best = (
        scored.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select("doc_id", "rank", "i", "passage_score")
    )
    return (
        best.join(tokd, "doc_id")
        .select(
            "doc_id",
            "rank",
            (F.col("i") - 1).cast("long").alias("start_pos"),
            "passage_score",
            F.array_join(
                F.slice("toks", F.col("i"), width), " "
            ).alias("passage"),
        )
        .orderBy("rank", "doc_id")
    )


def term_dict_fst_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FST/trie sizing statistics for the term dictionary — the numbers
    behind Lucene's FST term index (BlockTreeTermsWriter shares both
    prefixes and suffixes): over the corpus vocabulary, the raw char
    total, the prefix-trie node count (distinct non-empty prefixes —
    what a trie stores), the distinct-suffix count (what the FST's
    suffix sharing collapses), and the prefix-compression saving.  The
    byte-level companion of term_dict_frontcoding_report (which
    measures the sorted-block LCP form).  Vocabulary-bounded
    everywhere: one distinct, two bounded explodes."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(tokenize_col("text")).alias("term"))
        .distinct()
    )
    base = vocab.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(F.length("term")).cast("long").alias("total_chars"),
    )
    prefixes = (
        vocab.select(
            F.explode(
                F.expr("transform(sequence(1, length(term)),"
                       " i -> substring(term, 1, i))")
            ).alias("p")
        )
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_trie_nodes"))
    )
    suffixes = (
        vocab.select(
            F.explode(
                F.expr("transform(sequence(1, length(term)),"
                       " i -> substring(term, i))")
            ).alias("s")
        )
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_suffixes"))
    )
    return (
        base.crossJoin(F.broadcast(prefixes))
        .crossJoin(F.broadcast(suffixes))
        .select(
            "n_terms",
            "total_chars",
            "n_trie_nodes",
            "n_suffixes",
            F.round(
                F.lit(1.0)
                - F.col("n_trie_nodes").cast("double")
                / F.col("total_chars").cast("double"),
                6,
            ).alias("prefix_saving"),
        )
    )


def team_draft_interleaving(
    spark: SparkSession, sf_dir: str, l_depth: int = TEAM_DRAFT_L
) -> DataFrame:
    """Team-draft interleaving (Radlinski et al. 2008) of the BM25 and
    ClassicSimilarity top-10 rankings for the flagship query — the
    online ranker-evaluation primitive: teams alternate picks (the
    behind team picks; ties broken by the md5('td:<pos>') coin, shared
    bit-for-bit with the oracle), each picking its highest-ranked doc
    not yet selected; a team with no candidates left concedes the pick
    but keeps the credit (pinned convention).  The two rankings are
    the distributed work; the draft itself is the O(L) serving-side
    walk, run over the two collected 10-row pages (the MMR bounded-
    collect precedent) and unrolled as CTE steps in the oracle."""
    import hashlib

    a = [
        int(r["doc_id"])
        for r in bm25_topk_documents(spark, sf_dir, FLAGSHIP_QUERY, l_depth)
        .orderBy("rank")
        .collect()
    ]
    b = [
        int(r["doc_id"])
        for r in tfidf_topk(spark, sf_dir, FLAGSHIP_QUERY, l_depth)
        .orderBy("rank")
        .collect()
    ]
    picked: list[tuple[int, int, str]] = []
    seen: set[int] = set()
    na = nb = 0
    for pos in range(1, l_depth + 1):
        coin = (
            int(hashlib.md5(f"td:{pos}".encode()).hexdigest()[:13], 16) % 2
        )
        turn_a = na < nb or (na == nb and coin == 1)
        prefer = a if turn_a else b
        other = b if turn_a else a
        pick = next((d for d in prefer if d not in seen), None)
        if pick is None:
            pick = next((d for d in other if d not in seen), None)
        if pick is None:
            break
        seen.add(pick)
        picked.append((pos, pick, "A" if turn_a else "B"))
        if turn_a:
            na += 1
        else:
            nb += 1
    return spark.createDataFrame(
        picked, "pos int, doc_id bigint, team string"
    )


# ---------------------------------------------------------------------------
# Batch 134: post-retrieval query-performance predictors
# ---------------------------------------------------------------------------

NQC_K = 50


def nqc_wig_predictors(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = NQC_K,
) -> DataFrame:
    """Post-retrieval query-performance predictors — the other half of
    query_difficulty_predictors' pre-retrieval panel: NQC (Shtok et
    al.: std of the top-k scores over the corpus mean score — high
    variance means a confident head) and WIG (Zhou & Croft: top-k mean
    minus the corpus mean, per query term).  Scores come from the
    exact_scores all-matched path (canonical ascending sums, rounded
    6dp so page membership follows the expansion-query rule);
    moments ride DECIMAL sums of the 6dp scores and their exact-12dp
    squares.  One corpus scan, one row."""
    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.bm25_df import corpus_postings, exact_scores

    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    postings, doclens = corpus_postings(docs)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qterms = queries.select(
        "query_id", F.explode(tokenize_col("query_text")).alias("term")
    ).distinct()
    df_t = (
        postings.join(
            F.broadcast(qterms.select("term").distinct()), "term"
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )
    matched = (
        postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    allscores = exact_scores(matched, round_to=6).select("doc_id", "score")
    topk = ranked_topk(
        allscores, [F.desc("score"), F.asc("doc_id")], k
    )
    sq = F.round(F.col("score") * F.col("score"), 12).cast("decimal(38,12)")
    top_stats = topk.select(
        F.col("score").cast("decimal(18,6)").alias("s6"), sq.alias("sq12")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.sum("s6").cast("double").alias("ts"),
        F.sum("sq12").cast("double").alias("tss"),
    )
    corp_stats = allscores.select(
        F.col("score").cast("decimal(18,6)").alias("s6")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.sum("s6").cast("double").alias("cs_sum"),
    )
    n_q = len(set(tokenize_string(query_text)))
    kD = F.col("k_used").cast("double")
    mu_k = F.col("ts") / kD
    var_k = F.col("tss") / kD - mu_k * mu_k
    cs = F.col("cs_sum") / F.col("n_matched").cast("double")
    return top_stats.crossJoin(F.broadcast(corp_stats)).select(
        F.col("k_used"),
        "n_matched",
        F.round(mu_k, 6).alias("mean_topk"),
        F.round(F.sqrt(var_k), 6).alias("std_topk"),
        F.round(cs, 6).alias("corpus_mean_score"),
        F.round(F.sqrt(var_k) / cs, 6).alias("nqc"),
        F.round(
            (mu_k - cs) / F.sqrt(F.lit(float(n_q))), 6
        ).alias("wig"),
    )


# ---------------------------------------------------------------------------
# Batch 138: shard-local score merge audit
# ---------------------------------------------------------------------------

SHARD_MERGE_N = 4
SHARD_MERGE_LOCAL_K = 5
SHARD_MERGE_K = 10


def shard_score_merge_audit(
    spark: SparkSession, sf_dir: str, query_text: str = FLAGSHIP_QUERY
) -> DataFrame:
    """Distributed-IR score-drift audit: split the corpus into
    SHARD_MERGE_N md5 shards, score the flagship query with
    SHARD-LOCAL statistics (each shard's own N/avgdl/df — what a
    naive federation does), take local top-5s and merge on the raw
    local scores; the report carries each merged doc's GLOBAL rank so
    the drift is visible (terms_shard_approx shows the counting half
    of this problem; this is the scoring half, the reason engines ship
    global stats to shards).  One scan builds all shard-local stats
    via shard-keyed groupBys; the merge touches <= N*5 rows."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.operators.textstats import _md5_52
    from lucene_mapreduce_spark.query.bm25_df import corpus_postings

    docs = load(spark, sf_dir, "documents")
    qts = sorted(set(tokenize_string(query_text)))
    postings, doclens = corpus_postings(docs)
    shard = (
        _md5_52(F.col("doc_id").cast("string")) % SHARD_MERGE_N
    ).cast("int")
    dl_s = doclens.select("doc_id", "dl", shard.alias("shard"))
    stats = dl_s.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qpost = postings.filter(F.col("term").isin(qts)).join(
        dl_s.select("doc_id", "shard"), "doc_id"
    )
    df_local = qpost.groupBy("shard", "term").agg(
        F.count(F.lit(1)).cast("long").alias("df_t")
    )
    matched = (
        qpost.join(F.broadcast(df_local), ["shard", "term"])
        .join(dl_s.select("doc_id", "dl"), "doc_id")
        .join(F.broadcast(stats), "shard")
    )
    contrib = bm25_contrib_col(
        F.col("tf").cast("double"),
        F.col("dl").cast("double"),
        "avgdl",
        bm25_idf_col("df_t", F.col("n_docs").cast("double")),
    )
    local = (
        matched.select("shard", "doc_id", contrib.alias("c"))
        .groupBy("shard", "doc_id")
        .agg(F.round(F.sum("c"), 6).alias("local_score"))
    )
    from pyspark.sql.window import Window

    wl = Window.partitionBy("shard").orderBy(
        F.col("local_score").desc(), F.col("doc_id").asc()
    )
    top_local = local.withColumn("lr", F.row_number().over(wl)).filter(
        F.col("lr") <= SHARD_MERGE_LOCAL_K
    )
    wm = Window.orderBy(
        F.col("local_score").desc(), F.col("doc_id").asc()
    )
    merged = (
        top_local.withColumn("merged_rank", F.row_number().over(wm))
        .filter(F.col("merged_rank") <= SHARD_MERGE_K)
    )
    global_page = bm25_topk_documents(
        spark, sf_dir, query_text, SHARD_MERGE_K
    ).select("doc_id", F.col("rank").alias("global_rank"))
    return (
        merged.join(F.broadcast(global_page), "doc_id", "left")
        .select(
            "merged_rank",
            "doc_id",
            "shard",
            "local_score",
            "global_rank",
        )
        .orderBy("merged_rank")
    )


# ---------------------------------------------------------------------------
# Batch 142: MaxP passage retrieval
# ---------------------------------------------------------------------------

MAXP_W = 8
MAXP_K = 10


def maxp_passage_retrieval_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = MAXP_K,
) -> DataFrame:
    """MaxP document retrieval: rank DOCUMENTS by the score of their
    best width-8 passage (Dai & Callan's BERT-MaxP baseline shape,
    with best_passage_highlight's idf-weighted window scorer standing
    in for the neural reranker) — long documents stop winning on
    accumulated matches alone, the length-bias fix passage-level
    retrieval exists for.  Window scores are 12dp-DECIMAL idf sums of
    DISTINCT query terms present; the doc score is the max window
    (rounded, doc_id ties asc).  Candidate docs are ANY doc containing
    a query term (one posting semi-join), windows are doc-length-
    bounded codegen."""
    from lucene_mapreduce_spark.functions.tokenize import (
        tokenize_col,
        tokenize_string,
    )
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    qts = sorted(set(tokenize_string(query_text)))
    tokd = docs.select("doc_id", tokenize_col("text").alias("toks"))
    n_docs = docs.count()
    dfs = (
        tokd.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(qts))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df_t"))
    )
    w12 = F.round(
        bm25_idf_col(F.col("df_t").cast("double"), n_docs),
        12,
    ).cast("decimal(28,12)")
    weights = dfs.select("term", w12.alias("w"))
    cand = (
        tokd.filter(
            F.arrays_overlap("toks", F.array(*[F.lit(t) for t in qts]))
        )
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.size("toks") - F.lit(MAXP_W - 1))
    )
    wins = cand.select("doc_id", "toks", F.explode(starts).alias("i"))
    hit = wins.crossJoin(F.broadcast(weights)).filter(
        F.exists(
            F.slice("toks", F.col("i"), MAXP_W),
            lambda x: x == F.col("term"),
        )
    )
    per_win = hit.groupBy("doc_id", "i").agg(
        F.round(F.sum("w").cast("double"), 6).alias("ws")
    )
    per_doc = per_win.groupBy("doc_id").agg(
        F.max("ws").alias("maxp_score")
    )
    return ranked_topk(
        per_doc, [F.desc("maxp_score"), F.asc("doc_id")], k
    ).select("doc_id", "maxp_score", "rank")


# ---------------------------------------------------------------------------
# Batch 151: Cronen-Townsend query clarity
# ---------------------------------------------------------------------------

CLARITY_K = 50


def query_clarity_score(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = CLARITY_K,
) -> DataFrame:
    """Cronen-Townsend clarity score — the third post-retrieval
    difficulty predictor beside nqc_wig_predictors' NQC/WIG (SIGIR
    2002, public): KL divergence between the unigram language model of
    the top-k BM25 page and the corpus LM, clarity =
    Σ_w p(w|R) ln(p(w|R)/p(w|C)) with p(w|R) = tf_R(w)/|R| over the
    concatenated page and p(w|C) = cf(w)/T.  Page selection rides the
    exact_scores rounded-score rule (desc score, asc doc_id); all four
    LM inputs are exact BIGINTs; each term's contribution is one fixed
    IEEE chain folded as 12dp DECIMAL.  One corpus scan, one row."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.bm25_df import (
        corpus_postings,
        exact_scores,
    )

    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    postings, doclens = corpus_postings(docs)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qterms = queries.select(
        "query_id", F.explode(tokenize_col("query_text")).alias("term")
    ).distinct()
    df_t = (
        postings.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )
    matched = (
        postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    allscores = exact_scores(matched, round_to=6).select("doc_id", "score")
    topk = ranked_topk(
        allscores, [F.desc("score"), F.asc("doc_id")], k
    ).select("doc_id")
    page = (
        postings.join(F.broadcast(topk), "doc_id")
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("tf_r"))
    )
    lenr = page.agg(
        F.sum("tf_r").cast("long").alias("len_r"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    cf = postings.groupBy("term").agg(F.sum("tf").cast("long").alias("cf"))
    tot = doclens.agg(F.sum("dl").cast("long").alias("t"))
    ku = topk.agg(F.count(F.lit(1)).cast("long").alias("k_used"))
    pr = F.col("tf_r").cast("double") / F.col("len_r").cast("double")
    pc = F.col("cf").cast("double") / F.col("t").cast("double")
    contrib = (
        page.join(cf, "term")
        .crossJoin(F.broadcast(lenr))
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(pr * F.log(pr / pc), 12)
            .cast("decimal(38,12)")
            .alias("c12"),
            "len_r",
            "n_terms",
        )
        .groupBy("len_r", "n_terms")
        .agg(F.sum("c12").cast("double").alias("cl"))
    )
    return contrib.crossJoin(F.broadcast(ku)).select(
        "k_used",
        F.col("len_r").alias("page_tokens"),
        "n_terms",
        F.round("cl", 6).alias("clarity"),
    )


# ---------------------------------------------------------------------------
# Batch 158: Roaring-bitmap container plan
# ---------------------------------------------------------------------------

ROARING_ARRAY_MAX = 4096  # postings per 2^16 container before bitmap flip
ROARING_HDR_BYTES = 8  # pinned per-container header cost
ROARING_BITMAP_BYTES = 8192  # 2^16 bits


def roaring_container_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roaring-bitmap sizing plan for the corpus postings — the
    container-format decision Lucene's doc-id sets make per 2^16
    doc-id chunk (Chambi et al. 2016, public; array container when
    < 4096 members at 2 B each, bitmap container at a flat 8 KiB
    beyond): counts containers of each kind over the (term, doc_id
    div 2^16) grid and totals roaring bytes vs the array-only layout,
    the ratio an index-format migration would quote.  Postings-sized
    groupBys only, one summary row."""
    docs = load(spark, sf_dir, "documents")
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    postings = (
        docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
        .select("term", "doc_id")
        .distinct()
    )
    cont = postings.groupBy(
        "term", F.expr("doc_id div 65536").alias("container")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    is_arr = F.col("cnt") < ROARING_ARRAY_MAX
    sized = cont.select(
        "cnt",
        is_arr.cast("long").alias("arr"),
        F.when(
            is_arr,
            F.lit(ROARING_HDR_BYTES) + 2 * F.col("cnt"),
        )
        .otherwise(F.lit(ROARING_HDR_BYTES + ROARING_BITMAP_BYTES))
        .cast("long")
        .alias("rbytes"),
        (F.lit(ROARING_HDR_BYTES) + 2 * F.col("cnt"))
        .cast("long")
        .alias("abytes"),
    )
    nt = cont.select("term").distinct().count()
    agg = sized.agg(
        F.count(F.lit(1)).cast("long").alias("n_containers"),
        F.sum("arr").cast("long").alias("n_array_containers"),
        (F.count(F.lit(1)) - F.sum("arr")).cast("long").alias(
            "n_bitmap_containers"
        ),
        F.sum("cnt").cast("long").alias("n_postings"),
        F.sum("rbytes").cast("long").alias("bytes_roaring"),
        F.sum("abytes").cast("long").alias("bytes_array_only"),
    )
    return agg.select(
        F.lit(int(nt)).cast("long").alias("n_terms"),
        "n_containers",
        "n_array_containers",
        "n_bitmap_containers",
        "n_postings",
        "bytes_roaring",
        "bytes_array_only",
        F.round(
            F.col("bytes_roaring").cast("double")
            / F.col("bytes_array_only").cast("double"),
            6,
        ).alias("roaring_over_array"),
    )


# ---------------------------------------------------------------------------
# Batch 162: MaxScore term partition
# ---------------------------------------------------------------------------

MAXSCORE_K = 10


def maxscore_term_partition(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = MAXSCORE_K,
) -> DataFrame:
    """MaxScore essential/non-essential term split for the flagship
    query — the other classic dynamic-pruning operator beside WAND
    (Turtle & Flood 1995, public): with theta = the current k-th page
    score, the non-essential set is the largest ascending-upper-bound
    prefix whose cumulative bound stays <= theta (documents matching
    only those terms can never enter the page).  Upper bounds are the
    per-term max BM25 contribution over the corpus (rounded 6dp, the
    expansion-family rule); theta comes from the exact_scores page.
    One corpus scan, query-term-bounded output."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.bm25_df import (
        _contrib_frame,
        corpus_postings,
        exact_scores,
    )

    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    postings, doclens = corpus_postings(docs)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qterms = queries.select(
        "query_id", F.explode(tokenize_col("query_text")).alias("term")
    ).distinct()
    df_t = (
        postings.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )
    matched = (
        postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    ub = (
        _contrib_frame(matched)
        .groupBy("term")
        .agg(F.round(F.max("contrib"), 6).alias("ub"))
        .join(F.broadcast(df_t), "term")
    )
    page = ranked_topk(
        exact_scores(matched, round_to=6).select("doc_id", "score"),
        [F.desc("score"), F.asc("doc_id")],
        k,
    )
    theta = page.agg(F.min("score").alias("theta"))
    from pyspark.sql import Window

    wo = Window.orderBy(F.asc("ub"), F.asc("term")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = ub.select(
        "term",
        F.col("df_t").cast("long").alias("df_t"),
        "ub",
        F.round(F.sum("ub").over(wo), 6).alias("cum_ub_asc"),
    )
    return (
        cum.crossJoin(F.broadcast(theta))
        .select(
            "term",
            "df_t",
            "ub",
            "cum_ub_asc",
            F.round("theta", 6).alias("theta"),
            (F.col("cum_ub_asc") > F.col("theta")).cast("int").alias(
                "essential"
            ),
        )
        .orderBy(F.asc("ub"), F.asc("term"))
    )


# ---------------------------------------------------------------------------
# Batch 164: tiered-merge ladder, Elias-Fano size audit
# ---------------------------------------------------------------------------

TMP_DOCS_PER_FLUSH = 1000
TMP_MERGE_FACTOR = 10


def tiered_merge_ladder_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered-merge-policy steady-state ladder for the corpus — the
    segment population Lucene's TieredMergePolicy converges to
    (public docs; with merge factor 10 the state is exactly the
    base-10 digit decomposition of the flush count): flushes of 1000
    docs, tier t holds digit_t(n_flush) segments of 1000·10^t docs,
    and the cumulative write amplification counts how many times each
    doc has been rewritten by merges into every tier above it.  All
    integer arithmetic (ceil via (N+999) div 1000, powers exact in
    the double range).  Tier-bounded rows."""
    nd = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    base = nd.select(
        "n_docs",
        F.expr(f"(n_docs + {TMP_DOCS_PER_FLUSH - 1}) div "
               f"{TMP_DOCS_PER_FLUSH}").alias("n_flush"),
    )
    tiers = base.select(
        "n_docs",
        "n_flush",
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("tier"),
    ).select(
        "n_docs",
        "n_flush",
        "tier",
        F.expr("cast(power(10, tier) as bigint)").alias("p10"),
    ).filter(F.col("p10") <= F.col("n_flush"))
    rows = tiers.select(
        "tier",
        (F.lit(TMP_DOCS_PER_FLUSH) * F.col("p10")).alias("segment_docs"),
        F.expr(f"(n_flush div p10) % {TMP_MERGE_FACTOR}")
        .cast("long")
        .alias("n_segments"),
        "n_flush",
        "n_docs",
        "p10",
    )
    # docs written by merges into tier t (t>=1): (n_flush div 10^t) full
    # next-tier segments, each rewriting 1000*10^t docs
    wa = rows.agg(
        F.sum(
            F.when(
                F.col("tier") > 0,
                F.expr("(n_flush div p10) * p10")
                * F.lit(TMP_DOCS_PER_FLUSH),
            ).otherwise(0)
        ).cast("long").alias("merge_docs"),
        F.first("n_docs").alias("nd"),
    ).select(
        "merge_docs",
        F.round(
            (F.col("merge_docs") + F.col("nd")).cast("double")
            / F.col("nd").cast("double"),
            6,
        ).alias("write_amp"),
    )
    return (
        rows.crossJoin(F.broadcast(wa))
        .select(
            "tier",
            "segment_docs",
            "n_segments",
            "write_amp",
        )
        .orderBy("tier")
    )


def elias_fano_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elias-Fano vs varbyte posting-list size model over the corpus —
    the succinct-encoding option quasi-succinct indices use (Vigna
    2013, public): per term with n postings over universe U =
    max(doc_id)+1, low bits l = len(bin(U div n)) − 1 (the exact
    integer-division convention), EF bits = n·l + 2n; the varbyte
    baseline prices each d-gap at its 7-bit band (1/2/3/4 bytes).
    Gap computation is one per-term lag window over sorted postings;
    totals are exact BIGINTs.  One summary row."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents")
    postings = (
        docs.select("doc_id", F.explode(tokenize_col("text")).alias("term"))
        .select("term", "doc_id")
        .distinct()
    )
    u = postings.agg((F.max("doc_id") + 1).cast("long").alias("u"))
    per = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ef = (
        per.crossJoin(F.broadcast(u))
        .select(
            "term",
            "n",
            (
                F.col("n")
                * (
                    F.length(
                        F.conv(F.expr("u div n").cast("string"), 10, 2)
                    ).cast("long")
                    - 1
                )
                + 2 * F.col("n")
            ).alias("ef_bits"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("n").cast("long").alias("total_postings"),
            F.sum(F.expr("(ef_bits + 7) div 8")).cast("long").alias(
                "ef_bytes"
            ),
        )
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("term").orderBy("doc_id")
    gaps = postings.select(
        "term",
        (
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(w), F.lit(-1))
        ).alias("g"),
    )
    vb = gaps.select(
        (
            F.lit(1)
            + (F.col("g") >= 128).cast("int")
            + (F.col("g") >= 16384).cast("int")
            + (F.col("g") >= 2097152).cast("int")
        ).cast("long").alias("b")
    ).agg(F.sum("b").cast("long").alias("vb_bytes"))
    return ef.crossJoin(F.broadcast(vb)).select(
        "n_terms",
        "total_postings",
        "ef_bytes",
        "vb_bytes",
        F.round(
            F.col("ef_bytes").cast("double")
            / F.col("vb_bytes").cast("double"),
            6,
        ).alias("ef_over_varbyte"),
    )


# ---------------------------------------------------------------------------
# Batch 166: pivoted normalization, LFU cache curve
# ---------------------------------------------------------------------------

PIVOT_S = 0.2
PIVOT_K = 10


def pivoted_norm_topk(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = PIVOT_K,
) -> DataFrame:
    """Pivoted-length-normalization VSM ranking (Singhal, Buckley &
    Mitra 1996, public) — the pre-BM25 classic the similarity zoo was
    missing: score = Σ_q (1 + ln(1 + ln(tf))) / ((1−s) + s·dl/avgdl)
    · ln((N+1)/df) with the pivot slope pinned at s = 0.2.  Scores
    fold in canonical ascending-term order and rank on the rounded
    value with doc_id tiebreak (the house expansion rule).  One
    corpus scan."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.bm25_df import corpus_postings

    docs = load(spark, sf_dir, "documents")
    postings, doclens = corpus_postings(docs)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qterms = (
        spark.createDataFrame([(query_text,)], "q string")
        .select(F.explode(tokenize_col("q")).alias("term"))
        .distinct()
    )
    df_t = (
        postings.join(F.broadcast(qterms), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )
    m = (
        postings.join(F.broadcast(df_t), "term")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    tfp = F.lit(1.0) + F.log(
        F.lit(1.0) + F.log(F.col("tf").cast("double"))
    )
    norm = F.lit(1.0 - PIVOT_S) + F.lit(PIVOT_S) * F.col("dl").cast(
        "double"
    ) / F.col("avgdl")
    idf = F.log(
        (F.col("n_docs").cast("double") + 1) / F.col("df_t").cast("double")
    )
    contribs = m.select(
        "doc_id", "term", (tfp / norm * idf).alias("contrib")
    )
    per_doc = contribs.groupBy("doc_id").agg(
        F.round(canonical_sum("contrib", "term"), 6).alias("score")
    )
    return ranked_topk(
        per_doc, [F.desc("score"), F.asc("doc_id")], k
    ).select("doc_id", "score", "rank")


LFU_SIZES = (8, 16, 32, 64)


def lfu_cache_hit_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static frequency-cache (LFU/Zipf) hit-rate curve — the
    query-result cache sizing question answered from the corpus term
    distribution as the query-log proxy (documented convention;
    Baeza-Yates 2007 static caching, public): cache the C most
    frequent terms, hit rate = their share of total occurrences, for
    C in 8/16/32/64, with the marginal gain of each doubling.
    Vocab-bounded windows."""
    from pyspark.sql import Window

    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents")
    cf = (
        docs.select(F.explode(tokenize_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("cf"))
    )
    wo = Window.orderBy(F.desc("cf"), F.asc("term")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = cf.agg(F.sum("cf").cast("long").alias("t"))
    ranked = cf.select(
        F.row_number()
        .over(Window.orderBy(F.desc("cf"), F.asc("term")))
        .alias("rk"),
        F.sum("cf").over(wo).alias("cum"),
    )
    sizes = docs.sparkSession.createDataFrame(
        [(c,) for c in LFU_SIZES], "cache_size long"
    )
    vocab = cf.agg(F.count(F.lit(1)).cast("long").alias("v"))
    at = (
        sizes.crossJoin(F.broadcast(vocab))
        .join(
            ranked,
            F.col("rk")
            == F.least(F.col("cache_size"), F.col("v")),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "cache_size",
            F.least(F.col("cache_size"), F.col("v")).alias("terms_cached"),
            F.round(
                F.col("cum").cast("double") / F.col("t").cast("double"), 6
            ).alias("hit_rate"),
        )
    )
    wl = Window.orderBy("cache_size")
    return at.select(
        "cache_size",
        "terms_cached",
        "hit_rate",
        F.round(
            F.col("hit_rate")
            - F.coalesce(F.lag("hit_rate").over(wl), F.lit(0.0)),
            6,
        ).alias("marginal_gain"),
    ).orderBy("cache_size")


# ---------------------------------------------------------------------------
# Batch 172: term-pair position gaps, window co-occurrence PMI
# ---------------------------------------------------------------------------

TERM_GAP_A = "table"
TERM_GAP_B = "scan"


def term_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional distance histogram between the flagship pair
    ('table', 'scan') — the corpus-level evidence behind sloppy-
    phrase slop tuning (how far apart do the words actually sit?):
    per doc containing both, the minimum absolute position gap over
    the tf_A x tf_B position pairs (the SpanNear candidate-pair cost,
    bounded per doc by term frequencies), histogrammed over docs.
    One posexplode + one per-doc positional join."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col

    docs = load(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokenize_col("text")).alias("p", "term")
    ).filter(F.col("term").isin(TERM_GAP_A, TERM_GAP_B))
    a = pos.filter(F.col("term") == TERM_GAP_A).select(
        "doc_id", F.col("p").alias("pa")
    )
    b = pos.filter(F.col("term") == TERM_GAP_B).select(
        "doc_id", F.col("p").alias("pb")
    )
    gaps = (
        a.join(b, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.min(F.abs(F.col("pa") - F.col("pb"))).cast("long").alias(
                "gap"
            )
        )
    )
    return (
        gaps.groupBy("gap")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("gap")
    )


COOC_WINDOW = 3
COOC_MIN_COUNT = 5
COOC_TOP_K = 15


def window_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-window co-occurrence PMI — the +-3-token association table
    that bigram PMI misses (Church & Hanks 1990, public): unordered
    pairs within distance 1..3, PMI = ln(c_pair N / (c_a c_b)) over
    pair-event totals, min support 5, top-15 by (rounded PMI desc,
    pair asc).  The positional self-join fans out 3x per token —
    bigram cost times the window, still linear in corpus size."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    docs = load(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokenize_col("text")).alias("p", "w")
    )
    lhs = pos.select("doc_id", F.col("p").alias("pi"), F.col("w").alias("wi"))
    rhs = pos.select("doc_id", F.col("p").alias("pj"), F.col("w").alias("wj"))
    pairs = (
        lhs.join(rhs, "doc_id")
        .filter(
            (F.col("pj") > F.col("pi"))
            & (F.col("pj") - F.col("pi") <= COOC_WINDOW)
        )
        .select(
            F.least(F.col("wi"), F.col("wj")).alias("a"),
            F.greatest(F.col("wi"), F.col("wj")).alias("b"),
        )
    )
    pc = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = pc.agg(F.sum("c").cast("long").alias("n"))
    ua = pc.select(F.col("a").alias("w"), "c").unionAll(
        pc.select(F.col("b").alias("w"), "c")
    )
    uc = ua.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    j = (
        pc.filter(F.col("c") >= COOC_MIN_COUNT)
        .join(uc.select(F.col("w").alias("a"), F.col("cw").alias("ca")), "a")
        .join(uc.select(F.col("w").alias("b"), F.col("cw").alias("cb")), "b")
        .crossJoin(F.broadcast(tot))
    )
    pmi = F.round(
        F.log(
            F.col("c").cast("double")
            * F.col("n").cast("double")
            / (F.col("ca").cast("double") * F.col("cb").cast("double"))
        ),
        6,
    )
    scored = j.select("a", "b", "c", pmi.alias("pmi"))
    return ranked_topk(
        scored, [F.desc("pmi"), F.asc("a"), F.asc("b")], COOC_TOP_K
    ).select("rank", "a", "b", F.col("c").alias("pair_count"), "pmi")


# ---------------------------------------------------------------------------
# Batch 176: alpha-nDCG diversity
# ---------------------------------------------------------------------------

ANDCG_K = 20
ANDCG_INV_LN2 = 1.4426950408889634  # shared literal 1/ln 2


def alpha_ndcg_diversity(
    spark: SparkSession,
    sf_dir: str,
    query_text: str = FLAGSHIP_QUERY,
    k: int = ANDCG_K,
) -> DataFrame:
    """alpha-nDCG@20 of the flagship BM25 page with document language
    as the aspect — the canonical diversity-aware gain
    (Clarke et al. 2008, public) result_diversity_ild's geometric ILD
    approximates: each repeat of an aspect decays its gain by
    alpha = 0.5 (exact dyadic 1/2^seen via integer powers), discounts
    are 1/log2(r+1) on the shared 1/ln2 literal, and the ideal
    ordering sorts the gain multiset descending (equal gains make the
    ideal DCG order-free).  One corpus scan, one row."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_col
    from lucene_mapreduce_spark.operators.parity import ranked_topk
    from lucene_mapreduce_spark.query.bm25_df import (
        corpus_postings,
        exact_scores,
    )

    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [("q0", query_text)], "query_id string, query_text string"
    )
    postings, doclens = corpus_postings(docs)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qterms = queries.select(
        "query_id", F.explode(tokenize_col("query_text")).alias("term")
    ).distinct()
    df_t = (
        postings.join(F.broadcast(qterms.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df_t"))
    )
    matched = (
        postings.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    page = ranked_topk(
        exact_scores(matched, round_to=6).select("doc_id", "score"),
        [F.desc("score"), F.asc("doc_id")],
        k,
    ).join(docs.select("doc_id", "lang"), "doc_id")
    from pyspark.sql import Window

    wasp = Window.partitionBy("lang").orderBy("rank")
    obs = page.select(
        "rank",
        "lang",
        (F.row_number().over(wasp) - 1).alias("seen"),
    ).select(
        "rank",
        "lang",
        "seen",
        F.round(
            (
                F.lit(1.0)
                / F.expr("cast(power(2, seen) as bigint)").cast("double")
            )
            / (
                F.log(F.col("rank").cast("double") + 1)
                * F.lit(ANDCG_INV_LN2)
            ),
            12,
        ).cast("decimal(38,12)").alias("c12"),
    )
    dcg = obs.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.countDistinct("lang").cast("long").alias("n_aspects"),
        F.sum("c12").cast("double").alias("dcg"),
    )
    gains = page.select(
        "lang",
        (
            F.row_number().over(Window.partitionBy("lang").orderBy("rank"))
            - 1
        ).alias("j"),
    ).select(
        "lang",
        "j",
        (
            F.lit(1.0)
            / F.expr("cast(power(2, j) as bigint)").cast("double")
        ).alias("g"),
    )
    ideal = gains.select(
        "g",
        F.row_number()
        .over(Window.orderBy(F.desc("g"), F.asc("lang"), F.asc("j")))
        .alias("pos"),
    )
    idcg = ideal.agg(
        F.sum(
            F.round(
                F.col("g")
                / (
                    F.log(F.col("pos").cast("double") + 1)
                    * F.lit(ANDCG_INV_LN2)
                ),
                12,
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("idcg")
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "k_used",
        "n_aspects",
        F.round("dcg", 6).alias("alpha_dcg"),
        F.round("idcg", 6).alias("ideal_dcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("alpha_ndcg"),
    )
