"""chunkmax serving mode: header-only block-max pruning + exact chunk
rescore must be rank AND float64-score identical to the exact paths
(VERDICT r4 item 8 — the cold-path approximate-then-exact-rescore mode,
made safe/exact by chunk-grain upper bounds)."""

from __future__ import annotations

import pytest

from lucene_mapreduce_spark.datagen.transcripts import transcripts_df, with_docid
from lucene_mapreduce_spark.index.build import build_segment
from lucene_mapreduce_spark.index.merge import merge_all
from lucene_mapreduce_spark.query.bm25 import bm25_oracle_pandas
from lucene_mapreduce_spark.query.wand import IndexSearcher

QUERIES = [
    "tok00000",
    "tok00000 tok00001",
    "tok00002 tok01998 tok00010",
    "tok00000 tok00001 tok00002 tok00003 tok00004 tok00005 tok00010 tok00100",
    "zzz_absent",
    "zzz_absent tok00007",
    "",
]


@pytest.fixture(scope="module")
def merged_index(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("cm_ix"))
    full = with_docid(transcripts_df(spark, n_conv=100, seed=31))
    corpus = full.select("doc_id", "text")
    build_segment(spark, corpus, index_dir, num_partitions=8, chunk_docs=1 << 12)
    merge_all(spark, index_dir)
    return index_dir, corpus.toPandas()


@pytest.fixture(scope="module")
def multiseg_index(spark, tmp_path_factory):
    """Two unmerged segments with INTERLEAVED docid ranges (no overlap, so
    no live map) — exercises the multi-segment max-not-sum UB and the
    multi-part chunk decode."""
    index_dir = str(tmp_path_factory.mktemp("cm_ix2"))
    full = with_docid(transcripts_df(spark, n_conv=80, seed=32))
    corpus = full.select("doc_id", "text")
    even = corpus.filter("pmod(doc_id, 2) = 0")
    odd = corpus.filter("pmod(doc_id, 2) = 1")
    build_segment(spark, even, index_dir, num_partitions=8, chunk_docs=1 << 12)
    build_segment(spark, odd, index_dir, num_partitions=8, chunk_docs=1 << 12)
    return index_dir, corpus.toPandas()


def _assert_identical(searcher, pdf, k_values=(1, 3, 10, 50)):
    for q in QUERIES:
        for k in k_values:
            exp = bm25_oracle_pandas(pdf, q, k=k)
            got = searcher.search(q, k=k, algorithm="chunkmax")
            assert [d for d, _ in got] == list(exp.doc_id), f"{q!r} k={k}"
            for (d, s), es in zip(got, exp.score):
                assert s == es, f"{q!r} k={k} doc {d}: {s!r} != {es!r}"


def test_chunkmax_identical_merged(merged_index):
    index_dir, pdf = merged_index
    _assert_identical(IndexSearcher(index_dir), pdf)


def test_chunkmax_identical_multiseg(multiseg_index):
    index_dir, pdf = multiseg_index
    searcher = IndexSearcher(index_dir)
    # disjoint generations: live map exists but nothing is shadowed, so
    # chunkmax takes the header path (not the fallback)
    assert searcher._live_doc is not None and not searcher._shadowed
    _assert_identical(searcher, pdf)


def test_chunkmax_livemap_fallback(spark, tmp_path):
    """Overlapping generations create a live map; chunkmax must fall back
    to the exact path and still return update-aware results."""
    ix = str(tmp_path / "cm_upd")
    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i:05d}") for i in range(40)],
        "doc_id long, text string",
    )
    build_segment(spark, docs, ix, num_partitions=4)
    upd = spark.createDataFrame(
        [(0, "gamma delta"), (1, "gamma delta")], "doc_id long, text string"
    )
    build_segment(spark, upd, ix, num_partitions=4)
    searcher = IndexSearcher(ix)
    assert searcher._live_doc is not None
    exact = searcher.search("alpha beta", k=50)
    via_cm = searcher.search("alpha beta", k=50, algorithm="chunkmax")
    assert via_cm == exact
    assert {d for d, _ in via_cm}.isdisjoint({0, 1})  # shadowed docs gone
    gd = searcher.search("gamma delta", k=10, algorithm="chunkmax")
    assert [d for d, _ in gd] == [0, 1]


def test_chunkmax_prunes_decode(merged_index, monkeypatch):
    """The point of the mode: on a selective query over a merged index,
    chunkmax must decode strictly fewer payloads than the full term read."""
    import lucene_mapreduce_spark.query.wand as wand_mod

    index_dir, _ = merged_index
    calls = {"n": 0, "payloads": 0}
    real = wand_mod.decode_postings_many

    def counting(data, bs, be):
        calls["n"] += 1
        calls["payloads"] += len(bs)
        return real(data, bs, be)

    monkeypatch.setattr(wand_mod, "decode_postings_many", counting)
    s = wand_mod.IndexSearcher(index_dir)
    q = "tok00002 tok01998 tok00010"
    s.search(q, k=3, algorithm="chunkmax")
    pruned = calls["payloads"]
    calls["n"] = calls["payloads"] = 0
    s2 = wand_mod.IndexSearcher(index_dir)
    s2.search(q, k=3)
    full = calls["payloads"]
    assert pruned < full, (pruned, full)


def test_chunkmax_prunes_hard_on_skewed_corpus(spark, tmp_path):
    """On a corpus with skewed tf (the real-world shape), chunk upper
    bounds separate and chunkmax decodes a small fraction of payloads.
    The uniform synthetic corpus is the worst case (~1-17% pruned,
    measured); this pins the capability the mode exists for."""
    import lucene_mapreduce_spark.query.wand as wand_mod

    rows = []
    for i in range(4000):
        # a handful of docs carry a hot term with huge tf; everyone else
        # mentions it once among filler — classic zipf-ish skew
        tf = 40 if i % 997 == 0 else 1
        rows.append((i, " ".join(["hot"] * tf + [f"fill{i % 600:04d}"] * 6)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ix = str(tmp_path / "skew")
    # chunk_docs=16 => ~250 chunks => several UB-ordered groups, so the
    # group-granular early termination has room to fire
    build_segment(spark, docs, ix, num_partitions=4, chunk_docs=16)
    merge_all(spark, ix)

    calls = {"payloads": 0}
    real = wand_mod.decode_postings_many

    def counting(data, bs, be):
        calls["payloads"] += len(bs)
        return real(data, bs, be)

    # open both searchers and force the doclen/live-domain warm BEFORE
    # counting, so the counters see only the query-time posting decodes
    s = wand_mod.IndexSearcher(ix)
    s._all_live_docs()
    s2 = wand_mod.IndexSearcher(ix)
    s2._all_live_docs()
    wand_mod.decode_postings_many = counting
    try:
        calls["payloads"] = 0
        got = s.search("hot", k=4, algorithm="chunkmax")
        cm = calls["payloads"]
        calls["payloads"] = 0
        exp = s2.search("hot", k=4)
        full = calls["payloads"]
    finally:
        wand_mod.decode_postings_many = real
    assert got == exp
    assert [d for d, _ in got] == [0, 997, 1994, 2991]  # the high-tf docs
    assert cm < full * 0.5, (cm, full)  # >50% of payloads never decoded
