"""spark-submit entrypoint: answer top-k BM25 queries against a built index.

Usage:
  spark-submit --py-files lucene_mapreduce_spark.zip jobs/query_index.py \
      --index /path/to/index_dir --query "terms to search" [-k 10]
  # or a query batch:
  ... --queries /path/to/queries.parquet --out /path/to/results
  # (queries.parquet: query_id string, query_text string)

Single-query flags:
  --syntax lucene     parse `+must -not "phrase" should` clause syntax
  --syntax ext        additionally `term^2.5` boosts + `field:value` clauses
  --min-should-match N  require >= N SHOULD terms to match (with --syntax ext)
  --like DOC_ID       MoreLikeThis: docs similar to DOC_ID (needs docstore)
  --range LO:HI       scope the search to docids [LO, HI)
  --spell WORD        did-you-mean suggestions from the dictionary sidecar
  --complete PREFIX   autocomplete from the dictionary sidecar
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--syntax", choices=["terms", "lucene", "ext"], default="terms")
    ap.add_argument("--min-should-match", type=int, default=0)
    ap.add_argument("--like", type=int, default=None)
    ap.add_argument("--range", default=None, help="LO:HI docid span")
    ap.add_argument("--spell", default=None)
    ap.add_argument("--complete", default=None)
    ap.add_argument(
        "--as-of", type=int, default=None,
        help="pin the search to a point-in-time commit (batch seq)",
    )
    ap.add_argument(
        "--algorithm",
        choices=["auto", "chunkmax"],
        default="auto",
        help="serving scorer for plain term queries: auto scores every "
        "candidate from the cached decoded postings; chunkmax prunes "
        "undecoded chunks by block-max upper bounds (exact results; wins "
        "on cold queries over skewed tf corpora)",
    )
    args = ap.parse_args()

    if args.spell or args.complete:
        # serving-side suggesters: the searcher's in-memory sorted
        # dictionary (binary-search seek / banded vectorized levenshtein)
        # — interactive at any index size, no Spark job
        from lucene_mapreduce_spark.query.wand import IndexSearcher

        searcher = IndexSearcher(args.index)
        rows = (
            searcher.spell_suggest(args.spell, k=args.k)
            if args.spell
            else searcher.autocomplete(args.complete, k=args.k)
        )
        for row in rows:
            print("\t".join(str(x) for x in row))
        return

    if args.query and not args.queries and not args.range and args.like is None:
        # single-query serving path: no Spark job at all
        from lucene_mapreduce_spark.query.wand import IndexSearcher

        searcher = IndexSearcher(args.index, as_of=args.as_of)
        if args.syntax == "ext":
            hits = searcher.search_parsed_ext(
                args.query, k=args.k, min_should_match=args.min_should_match
            )
        elif args.syntax == "lucene":
            hits = searcher.search_parsed(args.query, k=args.k)
        else:
            hits = searcher.search(args.query, k=args.k, algorithm=args.algorithm)
        for doc_id, score in hits:
            print(f"{doc_id}\t{score:.6f}")
        return

    from pyspark.sql import SparkSession

    from lucene_mapreduce_spark.query.segments import (
        bm25_index_topk,
        bm25_range_topk,
        more_like_this,
    )

    spark = SparkSession.builder.getOrCreate()
    if args.like is not None:
        out = more_like_this(spark, args.index, args.like, k=args.k)
    elif args.range is not None:
        lo, hi = (int(x) for x in args.range.split(":"))
        queries = (
            spark.read.parquet(args.queries)
            if args.queries
            else spark.createDataFrame(
                [("q0", args.query)], "query_id string, query_text string"
            )
        )
        out = bm25_range_topk(spark, args.index, queries, lo, hi, k=args.k)
    else:
        queries = spark.read.parquet(args.queries)
        out = bm25_index_topk(spark, args.index, queries, k=args.k)
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
    else:
        out.orderBy("query_id", "rank").show(100, truncate=False)


if __name__ == "__main__":
    main()
