"""Query answering over built segments (the index path, SURVEY §2.7 F7).

Replaces the reference's reducer-side Lucene probe (XdiReportReducer.java:
342-400: copy index partition local, QueryParser + TopScoreDocCollector)
with partition-pruned parquet reads of posting blocks:

- query terms -> phash via the same xxhash64 contract the build wrote, so
  only the matching ``phash=`` directories are scanned (directory pruning),
  and ``term IN (...)`` pushes into parquet row-group filters;
- posting payloads decode in a vectorized Arrow kernel (mapInPandas) to
  (term, doc_id, tf, dl) — dl travels inside the payload, so scoring needs
  no doclens side-join;
- multi-segment reads mask shadowed (updated) docs via the latest-wins rule;
  a fully merged index (1 segment) skips masking entirely;
- scoring + top-k reuses score_and_topk — one scoring spec for all paths.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lucene_mapreduce_spark.functions.tokenize import tokenize_col
from lucene_mapreduce_spark.index.manifest import Manifest, load_manifest, segment_dir
from lucene_mapreduce_spark.query.bm25_df import (
    bm25_contrib_col,
    bm25_idf_col,
    canonical_sum,
    exact_scores,
    score_and_topk,
)


def _decode_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Posting-payload rows -> (term, doc_id, tf, dl, seg_seq) rows, one
    batched varbyte decode per pandas batch (codec.decode_postings_many) —
    the per-payload loop it replaces paid ~100us of pandas Series fixed
    cost per payload, the dominant term of the distributed batch-query
    legs (a 10k-query batch touches ~10^5 payloads)."""
    import numpy as np

    from lucene_mapreduce_spark.index.codec import decode_postings_many

    for pdf in batches:
        if not len(pdf):
            continue
        payloads = pdf["payload"].to_numpy()
        bufs = payloads.tolist()
        sizes = np.fromiter((len(b) for b in bufs), np.int64, len(bufs))
        ends = np.cumsum(sizes)
        starts = ends - sizes
        data = np.frombuffer(b"".join(bufs), np.uint8)
        counts = (
            data[starts + 3].astype(np.int64)
            | (data[starts + 4].astype(np.int64) << 8)
            | (data[starts + 5].astype(np.int64) << 16)
            | (data[starts + 6].astype(np.int64) << 24)
        )
        docids, tfs, dls = decode_postings_many(data, starts, ends)
        if not len(docids):
            continue
        yield pd.DataFrame(
            {
                "term": np.repeat(pdf["term"].to_numpy(), counts),
                "doc_id": docids,
                "tf": tfs.astype("int64"),
                "dl": dls.astype("int64"),
                "seg_seq": np.repeat(pdf["seg_seq"].to_numpy(), counts),
            }
        )


def term_phashes(spark: SparkSession, terms: list[str], num_partitions: int) -> dict[str, int]:
    """Route terms to their segment partitions with the build's own hash
    (pure-Python xxhash64 twin — no Spark job; parity tested vs F.xxhash64)."""
    from lucene_mapreduce_spark.functions.hashing import term_phash

    return {t: term_phash(t, num_partitions) for t in terms}


def read_postings(
    spark: SparkSession,
    index_dir: str,
    terms: list[str] | DataFrame,
    manifest: Manifest | None = None,
    chunk_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Decoded live postings (term, doc_id, tf, dl) for the given terms.

    ``terms`` as a small list drives phash-directory pruning + parquet
    row-group pushdown (`term IN (...)`) — optimal for interactive queries.
    ``terms`` as a DataFrame is the offline-batch shape (the reference's
    daily 1 TB probe join, XdiReportDriver.java:253-266): the term set
    never materializes on the driver; postings scan all phash directories
    once and broadcast-hash-join against the term frame.

    chunk_range=(lo, hi) prunes every posting read to the inclusive chunk
    span (parquet row-group stats on the chunk-sorted rows) — the docid-
    range axis of pruning, orthogonal to phash/term.
    """
    m = _manifest(index_dir, manifest)
    decoded = (
        _posting_rows(spark, index_dir, terms, m, chunk_range=chunk_range)
        .select("term", "payload", "seg_seq")
        .mapInPandas(
            _decode_rows,
            schema="term string, doc_id long, tf long, dl long, seg_seq long",
        )
    )
    return _latest_wins(spark, index_dir, m, decoded, chunk_range=chunk_range)


def _manifest(index_dir: str, manifest: Manifest | None = None) -> Manifest:
    m = manifest or load_manifest(index_dir)
    assert m is not None, f"no index at {index_dir}"
    return m


def _generations(
    index_dir: str, m: Manifest, read: Callable[[str], DataFrame]
) -> DataFrame:
    """``read(segment_path)`` over every generation, oldest first, each
    tagged with its seg_seq and unioned -- the input of ``_latest_wins``."""
    rows = None
    for s in m.ordered():
        r = read(segment_dir(index_dir, s.segment_id)).withColumn(
            "seg_seq", F.lit(s.min_seq)
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows


def _latest_wins(
    spark: SparkSession,
    index_dir: str,
    m: Manifest,
    rows: DataFrame,
    chunk_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Keep only rows of each doc's newest copy (latest-wins upsert) and drop
    seg_seq. A single-generation index has nothing shadowed: no mask."""
    if len(m.ordered()) > 1:
        live = live_doclens(spark, index_dir, m, chunk_range=chunk_range).select(
            "doc_id", "seg_seq"
        )
        rows = rows.join(live, ["doc_id", "seg_seq"], "left_semi")
    return rows.drop("seg_seq")


def _term_filter(spark: SparkSession, terms: list[str], m: Manifest) -> Column:
    """phash-directory pruning + term row-group pushdown for a term list."""
    phashes = sorted(set(term_phashes(spark, terms, m.num_partitions).values()))
    return F.col("phash").isin(phashes) & F.col("term").isin(terms)


def _posting_rows(
    spark: SparkSession,
    index_dir: str,
    terms: list[str] | DataFrame,
    m: Manifest,
    chunk_range: tuple[int, int] | None = None,
) -> DataFrame:
    """Raw (undecoded) posting-block rows for the given terms across all
    generations, with seg_seq attached — the shared scan prologue of
    read_postings and the no-decode term_dfs stats path."""
    if isinstance(terms, DataFrame):
        tdf = F.broadcast(terms.select("term").distinct())
    else:
        pred = _term_filter(spark, terms, m)

    def read(seg: str) -> DataFrame:
        r = spark.read.parquet(os.path.join(seg, "postings"))
        if chunk_range is not None:
            r = r.filter(F.col("chunk").between(*chunk_range))
        if not isinstance(terms, DataFrame):
            return r.filter(pred)
        # phash < P excludes the reserved doclen pseudo partition
        # (a query token could legitimately spell DL_TERM)
        return r.filter(F.col("phash") < F.lit(m.num_partitions)).join(
            tdf, "term", "inner"
        )

    return _generations(index_dir, m, read)


def term_dfs(
    spark: SparkSession,
    index_dir: str,
    terms: list[str] | DataFrame,
    manifest: Manifest | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """(term, df_t) — exact per-term live document frequency.

    Single-generation indexes aggregate the posting blocks' df_chunk column
    (a column-pruned scan of (term, df_chunk), ZERO payload decode — the
    kernel keeps df_chunk equal to the block's decoded posting count, so the
    sums are exact). Multi-generation indexes count the decoded live
    postings (``postings``, or a fresh read) because shadowed copies make
    block stats an overcount. Values are identical either way; this exists
    so the batch-query prologue stops decoding every payload twice (once
    for df_t, once for scoring)."""
    m = _manifest(index_dir, manifest)
    if len(m.ordered()) == 1:
        return (
            _posting_rows(spark, index_dir, terms, m)
            .groupBy("term")
            .agg(F.sum("df_chunk").cast("long").alias("df_t"))
        )
    p = (
        postings
        if postings is not None
        else read_postings(spark, index_dir, terms, m)
    )
    return p.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))


def live_doclens(
    spark: SparkSession,
    index_dir: str,
    manifest: Manifest | None = None,
    chunk_range: tuple[int, int] | None = None,
) -> DataFrame:
    """(doc_id, dl, seg_seq) with exactly one live row per doc (decoded from
    each segment's reserved DL_TERM pseudo rows — see index/kernels.py).
    chunk_range prunes each segment's doclen read to the chunk span."""
    from lucene_mapreduce_spark.index.build import read_doclens

    m = _manifest(index_dir, manifest)
    dfs = _generations(
        index_dir,
        m,
        lambda seg: read_doclens(spark, seg, m.num_partitions, chunk_range=chunk_range),
    )
    if len(m.segments) == 1:
        return dfs
    w = Window.partitionBy("doc_id").orderBy(F.col("seg_seq").desc())
    return (
        dfs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def read_positions(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    manifest: Manifest | None = None,
) -> DataFrame:
    """Live positional rows (term, doc_id, positions) for the given terms
    from the positional sidecar (build with_positions=True): phash-directory
    pruning + term row-group pushdown, latest-wins across generations —
    the batch-path twin of IndexSearcher._load_positions."""
    m = _manifest(index_dir, manifest)
    assert all(s.has_positions for s in m.ordered()), (
        "batch phrase matching needs with_positions=True segments"
    )
    pred = _term_filter(spark, terms, m)
    rows = _generations(
        index_dir,
        m,
        lambda seg: spark.read.parquet(os.path.join(seg, "positions")).filter(pred),
    )
    return _latest_wins(
        spark, index_dir, m, rows.select("term", "doc_id", "positions", "seg_seq")
    )


def phrase_match(
    spark: SparkSession, index_dir: str, phrase_text: str
) -> DataFrame:
    """Distributed exact phrase matching — the offline-batch twin of
    IndexSearcher.search_phrase(use="positions"), for phrase workloads over
    the whole corpus (curation filters, n-gram mining) where a driver-side
    candidate walk would not scale.

    Plan: one pruned positions read per phrase term, then a chain of
    doc_id equi-joins that successively intersects each term's position
    array with the previous survivors shifted by one (higher-order array
    expressions, pure codegen — no UDF). Each joined frame holds only the
    docs containing that term, so AQE broadcasts the rare side; survivors
    after the last term are the phrase's start positions."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string

    phrase = tokenize_string(phrase_text)
    if not phrase:
        return spark.createDataFrame([], "doc_id long")
    pos = read_positions(spark, index_dir, sorted(set(phrase)))
    cur = pos.filter(F.col("term") == phrase[0]).select(
        "doc_id", F.col("positions").alias("s")
    )
    for i, t in enumerate(phrase[1:], 1):
        nxt = pos.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"p{i}")
        )
        cur = (
            cur.join(nxt, "doc_id")
            .withColumn(
                "s",
                F.filter(
                    F.transform("s", lambda x: x + 1),
                    lambda x: F.array_contains(F.col(f"p{i}"), x),
                ),
            )
            .filter(F.size("s") > 0)
            .select("doc_id", "s")
        )
    return cur.select("doc_id").orderBy("doc_id")


def _field_rows(
    spark: SparkSession, index_dir: str, fld: str, *conds: Column
) -> DataFrame:
    """Live rows of one indexed field from the fields sidecar: one
    field-directory read per generation (``conds`` prune row groups),
    latest-wins across generations."""
    m = _manifest(index_dir)
    assert all(fld in s.indexed_fields for s in m.ordered()), (
        f"field {fld!r} not indexed in every generation"
    )
    pred = F.col("field") == fld
    for c in conds:
        pred = pred & c
    rows = _generations(
        index_dir,
        m,
        lambda seg: spark.read.parquet(os.path.join(seg, "fields")).filter(pred),
    )
    return _latest_wins(spark, index_dir, m, rows)


def field_match(
    spark: SparkSession, index_dir: str, fld: str, value: str
) -> DataFrame:
    """Distributed keyword-field retrieval from the indexed-fields sidecar
    (Lucene StringField TermQuery), the value filter pruning row groups.
    The batch twin of IndexSearcher._field_hits — pure field queries at
    corpus scale without touching text postings."""
    rows = _field_rows(spark, index_dir, fld, F.col("value") == value)
    return rows.select("doc_id").distinct().orderBy("doc_id")


def field_values(
    spark: SparkSession, index_dir: str, fld: str
) -> DataFrame:
    """(value, doc_id) live rows of one indexed keyword field — the
    SortedSetDocValues face of the fields sidecar, for faceting and
    grouping."""
    return _field_rows(spark, index_dir, fld).select("value", "doc_id")


def field_num_values(
    spark: SparkSession, index_dir: str, fld: str
) -> DataFrame:
    """(doc_id, num_value) live rows of one indexed numeric field — the
    SortedNumericDocValues face of the fields sidecar (the num_value twin
    written for PointRangeQuery), for range faceting and numeric rollups
    over hit sets."""
    return _field_rows(spark, index_dir, fld).select("doc_id", "num_value")


def field_range_match(
    spark: SparkSession,
    index_dir: str,
    fld: str,
    lo: float | None,
    hi: float | None,
) -> DataFrame:
    """Distributed numeric-range retrieval (Lucene PointRangeQuery) over
    the fields sidecar's num_value column — inclusive [lo, hi], None =
    open end. Row-group stats prune because numeric fields are num-sorted
    on disk."""
    conds = []
    if lo is not None:
        conds.append(F.col("num_value") >= lo)
    if hi is not None:
        conds.append(F.col("num_value") <= hi)
    rows = _field_rows(spark, index_dir, fld, *conds)
    return rows.select("doc_id").distinct().orderBy("doc_id")


def boolean_match(
    spark: SparkSession, index_dir: str, query_text: str, mode: str = "and"
) -> DataFrame:
    """Distributed boolean retrieval — the batch twin of
    IndexSearcher.search_boolean for whole-corpus curation filters.

    OR is a distinct over the pruned posting reads; AND is a per-doc
    distinct-term count equal to the query's term count (map-side
    combinable, one shuffle at doc granularity). A term absent from the
    index can never reach the full count, so AND degenerates to empty
    exactly like the cursor path."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string

    terms = sorted(set(tokenize_string(query_text)))
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    postings = read_postings(spark, index_dir, terms)
    if mode == "or":
        return postings.select("doc_id").distinct().orderBy("doc_id")
    return (
        postings.groupBy("doc_id")
        .agg(F.countDistinct("term").alias("m"))
        .filter(F.col("m") == len(terms))
        .select("doc_id")
        .orderBy("doc_id")
    )


def near_match(
    spark: SparkSession, index_dir: str, query_text: str, window: int = 4
) -> DataFrame:
    """Distributed proximity retrieval (SpanNear, unordered) from the
    positional sidecar — the batch twin of
    IndexSearcher.search_near(use="positions").

    Plan: the phrase_match join chain collects every query term's position
    array per doc, then one codegen expression checks containment: some
    window of `window` consecutive token slots holds a position of every
    term. Anchoring at each candidate position is exact — a qualifying
    window can always be slid right until its left edge IS one of the
    chosen positions."""
    from functools import reduce as _reduce

    from lucene_mapreduce_spark.functions.tokenize import tokenize_string

    terms = sorted(set(tokenize_string(query_text)))
    if not terms:
        return spark.createDataFrame([], "doc_id long")
    pos = read_positions(spark, index_dir, terms)
    cur = pos.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("positions").alias("p0")
    )
    for i, t in enumerate(terms[1:], 1):
        nxt = pos.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(f"p{i}")
        )
        cur = cur.join(nxt, "doc_id")
    k = len(terms)
    anchors = (
        F.flatten(F.array(*[F.col(f"p{i}") for i in range(k)]))
        if k > 1
        else F.col("p0")
    )
    hi = F.lit(window - 1)

    def _covered(a):
        return _reduce(
            lambda acc, i: acc
            & F.exists(F.col(f"p{i}"), lambda x: (x >= a) & (x <= a + hi)),
            range(1, k),
            F.exists(F.col("p0"), lambda x: (x >= a) & (x <= a + hi)),
        )

    return (
        cur.filter(F.exists(anchors, _covered))
        .select("doc_id")
        .orderBy("doc_id")
    )


def slop_match(
    spark: SparkSession, index_dir: str, phrase_text: str, slop: int
) -> DataFrame:
    """Distributed sloppy phrase (`"a b"~N`, ordered gap budget) — the
    offline-batch twin of IndexSearcher.search_phrase_slop, completing the
    batch family (phrase/boolean/near/field/range/boosted/msm) with the
    last serving-only retrieval shape.

    Plan: one pruned positions read per distinct term, a doc_id equi-join
    chain (AQE broadcasts rare terms), then ONE codegen expression per doc
    replaying the serving path's greedy nearest-next chaining: from each
    start position of the first term, every later term binds to its
    smallest position after the previous term's binding (array_min over a
    filtered position array; an unmatchable step yields null, which
    propagates to a False verdict). Greedy chaining minimizes the span, so
    existence under the budget is exact — identical semantics, zero
    driver-side candidate walks."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string

    phrase = tokenize_string(phrase_text)
    if not phrase:
        return spark.createDataFrame([], "doc_id long")
    if slop <= 0 or len(phrase) == 1:
        return phrase_match(spark, index_dir, phrase_text)
    terms = sorted(set(phrase))
    col_of = {t: f"pt{j}" for j, t in enumerate(terms)}
    pos = read_positions(spark, index_dir, terms)
    cur = None
    for j, t in enumerate(terms):
        nxt = pos.filter(F.col("term") == t).select(
            "doc_id", F.col("positions").alias(col_of[t])
        )
        cur = nxt if cur is None else cur.join(nxt, "doc_id")
    budget = slop + len(phrase) - 1  # max allowed (p_last - p_first)

    def _chain_ok(s):
        last = s
        for t in phrase[1:]:
            last = F.array_min(F.filter(F.col(col_of[t]), lambda x: x > last))
        return F.coalesce((last - s) <= F.lit(budget), F.lit(False))

    return (
        cur.filter(F.exists(F.col(col_of[phrase[0]]), _chain_ok))
        .select("doc_id")
        .orderBy("doc_id")
    )


def pit_manifest(
    index_dir: str, as_of: int, manifest: Manifest | None = None
) -> Manifest:
    """Lucene point-in-time reader / IndexCommit parity: the manifest
    restricted to segments wholly committed at batch seq <= as_of. Every
    read path that accepts a ``manifest`` override (read_postings,
    live_doclens, exact_stats, bm25_index_topk) then serves the index
    exactly as it stood after that batch — later generations are invisible,
    including their shadowing of earlier docs (the searcher the reference
    opens per reducer run is pinned to one such commit,
    XdiReportReducer.java:342-356)."""
    import dataclasses

    m = _manifest(index_dir, manifest)
    segs = [s for s in m.segments if s.max_seq <= as_of]
    assert segs, f"no segments committed at or before seq {as_of}"
    return dataclasses.replace(m, segments=segs)


def exact_stats(
    spark: SparkSession, index_dir: str, manifest: Manifest | None = None
) -> tuple[int, float]:
    """Exact (n_docs, avgdl) over live docs. For a fully merged index this
    equals the manifest's totals (asserted in tests); for a multi-generation
    index it applies latest-wins."""
    m = _manifest(index_dir, manifest)
    if len(m.segments) == 1:
        s = m.segments[0]
        return s.n_docs, (s.total_tokens / s.n_docs if s.n_docs else 0.0)
    row = (
        live_doclens(spark, index_dir, m)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tot"))
        .collect()[0]
    )
    n = int(row["n"])
    return n, (int(row["tot"] or 0) / n if n else 0.0)


def bm25_index_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    round_to: int | None = None,
    max_pushdown_terms: int = 256,
    manifest: Manifest | None = None,
) -> DataFrame:
    """Top-k BM25 for a batch of queries against the built index.

    Same output contract as bm25_scan_topk — rank-identical to the oracle.
    Small term sets (<= max_pushdown_terms) collect driver-side and push
    into phash-directory pruning + row-group filters; larger batches (the
    reference's million-probe offline joins) stay fully distributed — the
    term frame broadcast-joins the postings scan, nothing materializes on
    the driver.
    """
    matched = _matched_frame(
        spark, index_dir, queries, max_pushdown_terms, manifest=manifest
    )
    return score_and_topk(matched, k=k, round_to=round_to)


def bm25_scores(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    round_to: int | None = None,
    max_pushdown_terms: int = 256,
) -> DataFrame:
    """(query_id, doc_id, score) for EVERY matching doc — the unranked
    exact-score face of the index path, for operators that impose their
    own narrower ranking (collapse partitions by group) and must never
    funnel the full hit set through one per-query window partition."""
    matched = _matched_frame(spark, index_dir, queries, max_pushdown_terms)
    return exact_scores(matched, round_to=round_to)


def _matched_frame(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    max_pushdown_terms: int,
    manifest: Manifest | None = None,
) -> DataFrame:
    """(query_id, doc_id, term, tf, dl, df_t, n_docs, avgdl) for a query
    batch — the shared prologue of the ranked and unranked index paths.
    ``manifest`` overrides the on-disk manifest (point-in-time reads)."""
    m = _manifest(index_dir, manifest)
    qterms, terms = _query_terms(queries, max_pushdown_terms)
    n_docs, avgdl = exact_stats(spark, index_dir, m)

    postings = read_postings(spark, index_dir, terms, m)
    df_t = term_dfs(spark, index_dir, terms, m, postings=postings)
    return _matched(postings, qterms, df_t, n_docs, avgdl)


def _query_terms(
    queries: DataFrame, max_pushdown_terms: int
) -> tuple[DataFrame, list[str] | DataFrame]:
    """(qterms, terms): the distinct (query_id, term) frame, and the term set
    to read — a driver-side list (phash + row-group pushdown) when the batch
    has at most max_pushdown_terms distinct terms, else the distinct-term
    frame. Bounded probe: at most max_pushdown_terms+1 rows are fetched."""
    qterms = (
        queries.select("query_id", F.explode(tokenize_col("query_text")).alias("term"))
        .distinct()
    )
    qterm_list = qterms.select("term").distinct()
    head = qterm_list.limit(max_pushdown_terms + 1).collect()
    if len(head) <= max_pushdown_terms:
        return qterms, [r["term"] for r in head]
    return qterms, qterm_list


def _matched(
    postings: DataFrame,
    qterms: DataFrame,
    df_t: DataFrame,
    n_docs: int,
    avgdl: float,
) -> DataFrame:
    """The score_and_topk input: postings joined to their queries and df_t,
    with the corpus stats as literal columns."""
    return (
        postings.join(F.broadcast(qterms), "term", "inner")
        .join(F.broadcast(df_t), "term", "inner")
        .withColumn("n_docs", F.lit(float(n_docs)))
        .withColumn("avgdl", F.lit(float(avgdl)))
    )


def ext_score_topk(
    spark: SparkSession,
    index_dir: str,
    score_terms: list[tuple[str, float]],
    min_match: int = 1,
    k: int = 10,
    round_to: int | None = None,
) -> DataFrame:
    """Distributed weighted BM25 with minimum_should_match — the batch
    twin of IndexSearcher.search_parsed_ext's scored surface, so an
    offline job with boosted queries (`table^3 merge scan^0.5`) has a
    scale path and never funnels hits through the driver.

    Semantics match the serving path exactly: candidates are live docs
    matching >= min_match distinct scoring terms; each matched term
    contributes weight * BM25(term, doc); accumulation is canonical
    ascending-term order (float-exact vs the oracle); ranking is
    (score desc, doc_id asc) via TakeOrderedAndProject.

    Plan shape: one pruned posting read for the term set; df_t and the
    weight table broadcast; candidate selection is a map-side-combinable
    distinct-term count at doc granularity; only the aggregated per-doc
    scores are ranked."""
    from lucene_mapreduce_spark.operators.parity import ranked_topk

    terms = sorted({t for t, _ in score_terms})
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    n_docs, avgdl = exact_stats(spark, index_dir)
    postings = read_postings(spark, index_dir, terms)
    df_t = term_dfs(spark, index_dir, terms, postings=postings)
    wdf = spark.createDataFrame(
        sorted(score_terms), "term string, weight double"
    )

    # parenthesized exactly as the serving path accumulates
    # (w * contrib, wand.py search_parsed_ext) so the two are float-identical
    contrib = F.col("weight") * bm25_contrib_col(
        F.col("tf").cast("double"),
        F.col("dl").cast("double"),
        avgdl,
        bm25_idf_col("df_t", n_docs),
    )

    matched = (
        postings.join(F.broadcast(wdf), "term", "inner")
        .join(F.broadcast(df_t), "term", "inner")
        .select("doc_id", "term", contrib.alias("contrib"))
    )
    cand = (
        postings.groupBy("doc_id")
        .agg(F.countDistinct("term").alias("mm"))
        .filter(F.col("mm") >= min_match)
        .select("doc_id")
    )
    scores = matched.groupBy("doc_id").agg(
        canonical_sum("contrib", "term").alias("score")
    )
    out = cand.join(scores, "doc_id", "left").select(
        "doc_id", F.coalesce("score", F.lit(0.0)).alias("score")
    )
    out = ranked_topk(out, [F.desc("score"), F.asc("doc_id")], k)
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    return out.select("doc_id", "score", "rank")


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    src_doc: int,
    k: int = 10,
    max_terms: int = 8,
    round_to: int | None = None,
    exclude_terms: set[str] | None = None,
) -> DataFrame:
    """Lucene MoreLikeThis parity: top-k docs most similar to src_doc.

    The source doc's stored text (docstore sidecar) yields its term
    frequencies; its terms are ranked by tf * idf (idf = the BM25 idf,
    ln(1 + (N - df + 0.5)/(df + 0.5)), ties -> term asc) and the top
    max_terms become a BM25 query against the index, excluding src_doc
    from the results (stats stay corpus-global, like Lucene's MLT).

    The extracted-term stage is metadata-scale (one doc's vocabulary, df
    fetched via the pruned posting read); the search stage is the same
    distributed plan as bm25_index_topk.  Requires store_fields=True.
    """
    import numpy as np

    from lucene_mapreduce_spark.functions.tokenize import tokenize_string
    from lucene_mapreduce_spark.query.bm25 import bm25_idf
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    m = _manifest(index_dir)
    text = (
        IndexSearcher(index_dir)
        ._load_texts(np.asarray([src_doc], np.int64))
        .get(int(src_doc))
    )
    assert text is not None, f"doc {src_doc} not stored in {index_dir}"
    tf: dict[str, int] = {}
    for t in tokenize_string(text):
        tf[t] = tf.get(t, 0) + 1
    # `unlike` support (ES more_like_this): veto the negative exemplar's
    # vocabulary BEFORE the top-terms cut
    cand = sorted(t for t in tf if not (exclude_terms and t in exclude_terms))
    if not cand:
        # every candidate vetoed (possible on closed vocabularies: at sf1
        # the 31-token corpus lets one long exemplar cover the whole source
        # vocabulary) — ES returns an empty page for an empty query, and the
        # SQL oracle yields zero rows through the same emptiness
        return spark.createDataFrame(
            [], "query_id string, doc_id bigint, score double, rank int"
        )

    n_docs, avgdl = exact_stats(spark, index_dir)
    dfmap = {
        r["term"]: int(r["df_t"])
        for r in term_dfs(spark, index_dir, cand, m).collect()
    }
    # identical float spec to the oracle: tf * ln(1 + (N - df + .5)/(df + .5))
    ranked = sorted(
        (-(tf[t] * bm25_idf(dfmap[t], n_docs)), t) for t in cand if t in dfmap
    )
    qts = [t for _, t in ranked[:max_terms]]

    postings = read_postings(spark, index_dir, qts, m)
    df_t = term_dfs(spark, index_dir, qts, m, postings=postings)
    qterms = spark.createDataFrame(
        [("q0", t) for t in qts], "query_id string, term string"
    )
    matched = _matched(
        postings.filter(F.col("doc_id") != src_doc), qterms, df_t, n_docs, avgdl
    )
    return score_and_topk(matched, k=k, round_to=round_to)


def bm25_range_topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    lo: int,
    hi: int,
    k: int = 10,
    round_to: int | None = None,
    max_pushdown_terms: int = 256,
) -> DataFrame:
    """Scoped top-k BM25 over the docid range [lo, hi): search one tenant /
    conversation span / time shard of the index without touching the rest.

    Because doc_id packs (conv << 20 | turn) and posting blocks are keyed
    by chunk = doc_id DIV chunk_docs, a docid range is a CHUNK range — the
    scoped query prunes every read (postings AND the doclen pseudo-term
    rows) to ~ (hi-lo)/chunk_docs blocks via parquet row-group stats, an
    axis of pruning orthogonal to phash directories and term row-groups.
    At 10^12 docs a tenant-scoped query reads only its own chunk span.

    Scoring semantics are range-scoped BM25: df_t, n_docs and avgdl are
    computed over the live docs of [lo, hi) — the result is exactly what a
    standalone index built from that range would return (the oracle filters
    the corpus first and runs the same BM25 spec).
    """
    m = _manifest(index_dir)
    assert lo < hi
    c_range = (lo // m.chunk_docs, (hi - 1) // m.chunk_docs)
    in_range = (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
    qterms, terms = _query_terms(queries, max_pushdown_terms)

    # range-scoped stats from the chunk-pruned doclen rows (boundary chunks
    # need the exact docid filter — a chunk can straddle lo or hi)
    row = (
        live_doclens(spark, index_dir, m, chunk_range=c_range)
        .filter(in_range)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("tot"))
        .collect()[0]
    )
    n_docs = int(row["n"])
    if n_docs == 0:
        return spark.createDataFrame(
            [], "query_id string, doc_id long, score double, rank int"
        )
    avgdl = int(row["tot"] or 0) / n_docs

    postings = read_postings(spark, index_dir, terms, m, chunk_range=c_range).filter(
        in_range
    )
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    matched = _matched(postings, qterms, df_t, n_docs, avgdl)
    return score_and_topk(matched, k=k, round_to=round_to)
