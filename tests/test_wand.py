"""WAND serving path: xxhash64 routing parity with Spark + exact top-k."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucene_mapreduce_spark.datagen.transcripts import transcripts_df, with_docid
from lucene_mapreduce_spark.index.build import build_segment
from lucene_mapreduce_spark.index.merge import merge_all
from lucene_mapreduce_spark.query.bm25 import bm25_oracle_pandas
from lucene_mapreduce_spark.query.wand import IndexSearcher, term_phash, xxhash64


def test_xxhash64_matches_spark(spark):
    terms = ["", "a", "tok00000", "東京", "a" * 7, "b" * 8, "c" * 31, "d" * 32, "e" * 100]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {r["term"]: r["h"] for r in df.select("term", F.xxhash64("term").alias("h")).collect()}
    for t in terms:
        h = xxhash64(t.encode("utf-8"))
        signed = h - (1 << 64) if h >= 1 << 63 else h
        assert signed == got[t], f"xxhash64 mismatch for {t!r}"
    for p in (8, 11, 29, 32):
        dfp = {r["term"]: r["p"] for r in df.select(
            "term", F.pmod(F.xxhash64("term"), F.lit(p)).cast("int").alias("p")).collect()}
        for t in terms:
            assert term_phash(t, p) == dfp[t]


@pytest.fixture(scope="module")
def merged_index(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("wand_ix"))
    full = with_docid(transcripts_df(spark, n_conv=100, seed=23))
    corpus = full.select("doc_id", "text")
    build_segment(spark, corpus, index_dir, num_partitions=8, chunk_docs=1 << 12)
    merge_all(spark, index_dir)
    pdf = corpus.toPandas()
    return index_dir, pdf


WAND_QUERIES = [
    "tok00000",
    "tok00000 tok00001",
    "tok00002 tok01998 tok00010",
    "tok00000 tok00001 tok00002 tok00003 tok00004 tok00005 tok00010 tok00100",
    "zzz_absent",
    "zzz_absent tok00007",
    "",
]


def test_wand_rank_identity(merged_index):
    index_dir, pdf = merged_index
    searcher = IndexSearcher(index_dir)
    for q in WAND_QUERIES:
        for k in (1, 3, 10, 50):
            exp = bm25_oracle_pandas(pdf, q, k=k)
            got = searcher.search(q, k=k)
            assert [d for d, _ in got] == list(exp.doc_id), f"{q!r} k={k} docids"
            for (d, s), es in zip(got, exp.score):
                assert s == es, f"{q!r} k={k} doc {d}: {s!r} != {es!r}"


def test_search_rejects_unknown_algorithm(merged_index):
    searcher = IndexSearcher(merged_index[0])
    for algo in ("wand", "exhaustive", "Auto", ""):
        with pytest.raises(ValueError, match="algorithm"):
            searcher.search("tok00000", k=3, algorithm=algo)


def test_posting_cache_is_lru(merged_index):
    """A cache hit refreshes the entry, so a hot term outlives colder
    inserts instead of being evicted in insertion order."""
    searcher = IndexSearcher(merged_index[0])
    searcher._cache_cap = 2
    for t in ("tok00000", "tok00001", "tok00000", "tok00002"):
        searcher._read_term(t)
    assert list(searcher._cache) == ["tok00000", "tok00002"]
    searcher.clear_caches()
    assert not searcher._cache and not searcher._scored_cache


def test_wand_tied_scores_tiebreak(spark, tmp_path):
    """Identical docs => identical scores; tie must break by doc_id asc."""
    docs = spark.createDataFrame(
        [(i, "same text here") for i in range(20)] + [(99, "different words entirely")],
        "doc_id long, text string",
    )
    ix = str(tmp_path / "tie")
    build_segment(spark, docs, ix, num_partitions=4)
    merge_all(spark, ix)
    got = IndexSearcher(ix).search("same text", k=5)
    assert [d for d, _ in got] == [0, 1, 2, 3, 4]
    assert len({s for _, s in got}) == 1


def test_wand_latency_smoke(merged_index):
    import time

    index_dir, _ = merged_index
    searcher = IndexSearcher(index_dir)
    searcher.search("tok00000 tok00001", k=10)  # warm
    t0 = time.perf_counter()
    n = 20
    for _ in range(n):
        searcher.search("tok00000 tok00001 tok00005", k=10)
    per_q = (time.perf_counter() - t0) / n
    assert per_q < 0.5, f"WAND query too slow: {per_q:.3f}s"
