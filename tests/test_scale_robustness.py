"""Scale-robustness tests: skewed corpora that would go quadratic without
the bucket caps / band sizing, planted near-dups for LSH recall, cache
bounds, and multi-generation serving equivalence.

These run on synthetic tables written into a tmp sf_dir (same parquet
layout the gate uses), so the operators under test take the exact same
(spark, sf_dir) path the driver exercises.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _write_documents(tmp_path, texts, extra_cols=None):
    sf_dir = str(tmp_path)
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": texts,
            "source": ["synth"] * len(texts),
        }
    )
    if extra_cols:
        for k, v in extra_cols.items():
            pdf[k] = v
    pdf.to_parquet(os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def test_hot_shingle_capped(spark, tmp_path):
    """One shingle present in 50% of a 100k-doc corpus: uncapped, the
    shingle self-join would emit ~1.25e9 pairs; with the stop-shingle cap
    the job finishes and the hot shingle contributes zero candidates."""
    from lucene_mapreduce_spark.operators.dedup import ngram_jaccard_pairs

    n = 100_000
    rng = np.random.default_rng(7)
    hot = "aaa bbb ccc"
    texts = []
    for i in range(n):
        base = f"tok{rng.integers(0, 50_000)} tok{rng.integers(0, 50_000)} unique{i} tail{i}"
        texts.append((hot + " " + base) if i % 2 == 0 else base)
    sf_dir = _write_documents(tmp_path, texts)

    out = ngram_jaccard_pairs(spark, sf_dir, threshold=0.5).collect()
    # no two docs share >=50% of their *capped* shingle sets (unique tails)
    assert out == []


def test_hot_shingle_still_finds_real_dups(spark, tmp_path):
    """The cap must not break recall on genuine near-dups that share
    non-degenerate shingles."""
    from lucene_mapreduce_spark.operators.dedup import ngram_jaccard_pairs

    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",  # near-dup of doc 0
        "one two three four five six",
    ] + [f"filler{i} pad{i} mid{i} end{i} x{i}" for i in range(100)]
    sf_dir = _write_documents(tmp_path, texts)
    out = ngram_jaccard_pairs(spark, sf_dir, threshold=0.4).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert (0, 1) in pairs


def test_minhash_lsh_bucket_cap(spark, tmp_path):
    """A 300-copy identical-text cluster would emit 300^2/2 pairs per band;
    the bucket cap drops that degenerate bucket (exact_dedup owns exact
    copies) while distinct near-dups still pair up."""
    from lucene_mapreduce_spark.operators.dedup import minhash_lsh_pairs

    dup = "same old text repeated again and again forever"
    texts = [dup] * 300 + [
        "unique alpha beta gamma delta epsilon zeta eta",
        "unique alpha beta gamma delta epsilon zeta theta",
    ]
    sf_dir = _write_documents(tmp_path, texts)
    out = minhash_lsh_pairs(spark, sf_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    # the 300-clone cluster is capped away ...
    assert not any(a < 300 and b < 300 for a, b in pairs)
    # ... but the real near-dup pair survives
    assert (300, 301) in pairs


def test_simhash_band_space_bounded(spark, tmp_path):
    """64-bit simhash with 16-bit bands: band values span [0, 65536) and a
    skewed corpus does not concentrate into one bucket per band."""
    from lucene_mapreduce_spark.operators.dedup import simhash

    rng = np.random.default_rng(11)
    texts = [
        " ".join(f"w{rng.integers(0, 5000)}" for _ in range(12)) for _ in range(2000)
    ]
    sf_dir = _write_documents(tmp_path, texts)
    sh = simhash(spark, sf_dir)
    vals = sh.select(
        F.expr("shiftright(simhash_lo, 0) & CAST(65535 AS BIGINT)").alias("b0"),
        F.expr("shiftright(simhash_hi, 16) & CAST(65535 AS BIGINT)").alias("b3"),
    ).toPandas()
    assert vals.b0.between(0, 65535).all() and vals.b3.between(0, 65535).all()
    # random docs spread: no band value holds more than 5% of the corpus
    assert vals.b0.value_counts().iloc[0] <= len(vals) * 0.05


def _write_embeddings(tmp_path, vecs, labels=None):
    sf_dir = str(tmp_path)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": [np.asarray(v, np.float32) for v in vecs],
            "label": labels if labels is not None else [0] * len(vecs),
        }
    )
    pdf.to_parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return sf_dir


def test_ann_lsh_recall_on_planted_neighbors(spark, tmp_path):
    """Plant 30 near-copies of the query vector among 1000 random vectors:
    multi-table multi-probe LSH must recover >=80% of the bruteforce top-10
    (they are all planted neighbors, cosine ~0.99)."""
    from lucene_mapreduce_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_lsh_topk,
    )

    rng = np.random.default_rng(3)
    q = rng.normal(size=64)
    q /= np.linalg.norm(q)
    vecs = [q]  # vec_id 0 = the query
    for _ in range(30):  # planted neighbors
        vecs.append(q + rng.normal(scale=0.08, size=64))
    for _ in range(1000):
        vecs.append(rng.normal(size=64))
    sf_dir = _write_embeddings(tmp_path, vecs)

    bf = {r["vec_id"] for r in ann_bruteforce_topk(spark, sf_dir).collect()}
    lsh = {r["vec_id"] for r in ann_lsh_topk(spark, sf_dir).collect()}
    assert len(bf) == 10
    assert len(bf & lsh) >= 8  # >=80% recall on true near-neighbors


def test_near_dup_blocking_recall_and_bound(spark, tmp_path):
    """LSH-band blocking finds planted high-cosine near-dup pairs, and a
    degenerate cluster (identical vectors exceeding the bucket cap) emits
    no pairs instead of a quadratic candidate set."""
    from lucene_mapreduce_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=64)
    base /= np.linalg.norm(base)
    vecs = [rng.normal(size=64)]  # vec_id 0 (the ann query slot, unused here)
    vecs.append(base)  # 1
    vecs.append(base + rng.normal(scale=0.05, size=64))  # 2: near-dup of 1
    clone = rng.normal(size=64)
    vecs += [clone] * 100  # 3..102: degenerate identical cluster
    for _ in range(200):
        vecs.append(rng.normal(size=64))
    sf_dir = _write_embeddings(tmp_path, vecs)

    out = embedding_near_dup_pairs(spark, sf_dir, threshold=0.9).collect()
    pairs = {(r["vec_a"], r["vec_b"]) for r in out}
    assert (1, 2) in pairs
    assert not any(3 <= a <= 102 and 3 <= b <= 102 for a, b in pairs)


def test_score_and_topk_cache_bounded(spark, tmp_path):
    """Repeated query invocations must not accumulate persisted frames
    (the bounded registry evicts older ones)."""
    from lucene_mapreduce_spark.query.bm25_df import bm25_scan_topk

    texts = [f"alpha w{i} beta w{i + 1} gamma" for i in range(200)]
    sf_dir = _write_documents(tmp_path, texts)
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # growth, not absolute: the shared test session may carry caches from
    # other operators (.cache() in simhash etc.)
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    for i in range(12):
        qdf = spark.createDataFrame(
            [(f"q{i}", f"alpha w{i}")], "query_id string, query_text string"
        )
        bm25_scan_topk(docs, qdf, k=5).collect()
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after - before <= 2, f"persisted RDDs leaked: {before} -> {after}"


def test_ttl_purge_preserves_docstore(spark, tmp_path):
    """After purge_expired on a store_fields=True index, lookup_join must
    still enrich survivors and flag misses (docstore propagates)."""
    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.ttl import purge_expired
    from lucene_mapreduce_spark.query.fallback import lookup_join

    ix = str(tmp_path / "ix")
    corpus = spark.createDataFrame(
        [(i, f"doc number {i} body tok{i}") for i in range(50)],
        "doc_id long, text string",
    )
    build_segment(spark, corpus, ix, num_partitions=4, store_fields=True)
    expired = spark.createDataFrame([(i,) for i in range(0, 50, 2)], "doc_id long")
    meta = purge_expired(spark, ix, expired)
    assert meta.has_docstore

    probes = spark.createDataFrame([(1,), (3,), (2,)], "doc_id long")
    got = {r["doc_id"]: r for r in lookup_join(spark, ix, probes).collect()}
    assert got[1]["hit"] and got[1]["text"] == "doc number 1 body tok1"
    assert got[3]["hit"]
    assert not got[2]["hit"] and got[2]["text"] is None


def test_delete_docs_removes_from_every_path(spark, tmp_path):
    """Explicit deletion: deleted docs vanish from boolean retrieval, WAND
    top-k, and the dictionary-backed stats; survivors keep exact counts."""
    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.index.ttl import delete_docs
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = str(tmp_path / "ix")
    corpus = spark.createDataFrame(
        [(i, f"shared body tok{i}") for i in range(20)],
        "doc_id long, text string",
    )
    build_segment(
        spark, corpus, ix, num_partitions=4, store_fields=True, with_dict=True
    )
    meta = delete_docs(spark, ix, [0, 5, 19])
    assert meta.n_docs == 17 and meta.has_docstore and meta.has_dict

    s = IndexSearcher(ix)
    assert list(s.search_boolean("tok5", mode="or")) == []
    hits = {d for d, _ in s.search("shared", k=20)}
    assert hits == set(range(20)) - {0, 5, 19}
    assert load_manifest(ix).n_docs_upper == 17


def test_boolean_search_and_or(spark, tmp_path):
    """Exact conjunctive/disjunctive retrieval through the posting cursors
    matches set algebra over the corpus, on a merged AND an unmerged index."""
    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    texts = {
        0: "apple banana cherry",
        1: "apple banana",
        2: "banana cherry",
        3: "apple",
        4: "durian",
        5: "",
    }
    corpus = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    ix = str(tmp_path / "ix")
    build_segment(
        spark, corpus.filter("doc_id < 3"), ix, num_partitions=4,
        store_fields=True,
    )
    build_segment(  # unmerged, 2 gens
        spark, corpus.filter("doc_id >= 3"), ix, store_fields=True
    )

    s = IndexSearcher(ix)
    have = lambda *ts: sorted(
        d for d, t in texts.items() if all(x in t.split() for x in ts)
    )
    any_of = lambda *ts: sorted(
        d for d, t in texts.items() if any(x in t.split() for x in ts)
    )
    assert list(s.search_boolean("apple banana")) == have("apple", "banana")
    assert list(s.search_boolean("apple banana", mode="or")) == any_of("apple", "banana")
    assert list(s.search_boolean("apple missingterm")) == []
    assert list(s.search_boolean("missingterm", mode="or")) == []
    not_of = lambda inc, exc: sorted(
        d
        for d, t in texts.items()
        if all(x in t.split() for x in inc.split())
        and not any(x in t.split() for x in exc.split())
    )
    assert list(s.search_and_not("apple", "banana")) == not_of("apple", "banana")
    assert list(s.search_and_not("apple", "missingterm")) == not_of("apple", "")
    assert list(s.search_and_not("missingterm", "apple")) == []
    # proximity: both terms inside one 3-token window
    near = lambda a, b, w: sorted(
        d
        for d, t in texts.items()
        if any(
            {a, b} <= set(t.split()[i: i + w])
            for i in range(max(len(t.split()) - w + 1, 1))
        )
    )
    assert list(s.search_near("apple banana", window=3)) == near(
        "apple", "banana", 3
    )
    assert list(s.search_near("apple missingterm", window=3)) == []


def test_phrase_search_latest_wins(spark, tmp_path):
    """Phrase retrieval verifies adjacency against the NEWEST stored copy:
    an update that breaks the phrase must drop the doc, one that adds it
    must include it — without any merge."""
    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = str(tmp_path / "ix")
    gen1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "alpha gamma beta"),
            (3, "x alpha beta y"),
            (4, "nothing here"),
        ],
        "doc_id long, text string",
    )
    build_segment(spark, gen1, ix, num_partitions=4, store_fields=True)
    gen2 = spark.createDataFrame(
        [
            (3, "x alpha y beta"),   # phrase broken by the update
            (4, "now alpha beta"),   # phrase introduced by the update
        ],
        "doc_id long, text string",
    )
    build_segment(spark, gen2, ix, store_fields=True)

    s = IndexSearcher(ix)
    assert list(s.search_phrase("alpha beta")) == [1, 4]
    assert list(s.search_phrase("alpha beta gamma")) == [1]
    assert list(s.search_phrase("beta alpha")) == []
    assert list(s.search_phrase("")) == []


def test_connected_components_min_label(spark):
    """Min-label propagation over a chain, a triangle and an isolated pair:
    every node must land on its component's minimum id, including long
    chains (propagation crosses the full diameter)."""
    from lucene_mapreduce_spark.operators.curation import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5, triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_concurrent_commit_detected(spark, tmp_path):
    """A writer holding a stale manifest must fail its commit instead of
    silently overwriting (losing) a segment another writer appended."""
    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.manifest import (
        ConcurrentCommitError,
        commit_manifest,
        load_manifest,
    )

    ix = str(tmp_path / "ix")
    c1 = spark.createDataFrame([(1, "a b"), (2, "b c")], "doc_id long, text string")
    c2 = spark.createDataFrame([(3, "c d")], "doc_id long, text string")
    build_segment(spark, c1, ix, num_partitions=4)
    stale = load_manifest(ix)
    build_segment(spark, c2, ix)  # another writer advances the manifest
    with pytest.raises(ConcurrentCommitError):
        commit_manifest(ix, stale, expect_version=stale.version)
    # a fresh read commits cleanly and nothing was lost
    fresh = load_manifest(ix)
    assert len(fresh.segments) == 2
    commit_manifest(ix, fresh, expect_version=fresh.version)


def test_merge_passthrough_preserves_untouched_blocks(spark, tmp_path):
    """A delta in a disjoint docid range must leave the base segment's
    posting blocks BYTE-identical through the merge (pass-through path) and
    still produce a correct merged index."""
    import os

    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir
    from lucene_mapreduce_spark.index.merge import merge_all
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    ix = str(tmp_path / "ix")
    base = spark.createDataFrame(
        [(i, f"alpha beta w{i % 7}") for i in range(500)], "doc_id long, text string"
    )
    # delta lands in a far docid range => different chunks, no shadowing
    delta = spark.createDataFrame(
        [(10_000_000 + i, f"alpha gamma w{i % 5}") for i in range(100)],
        "doc_id long, text string",
    )
    build_segment(spark, base, ix, num_partitions=4, chunk_docs=1 << 12)
    m0 = load_manifest(ix)
    seg0 = m0.segments[0].segment_id
    before = {}
    p0 = os.path.join(segment_dir(ix, seg0), "postings")
    import pyarrow.dataset as pads

    for b in pads.dataset(p0, partitioning="hive").to_table(
        columns=["term", "chunk", "payload"]
    ).to_pylist():
        before[(b["term"], b["chunk"])] = bytes(b["payload"])

    build_segment(spark, delta, ix)
    merge_all(spark, ix)
    m1 = load_manifest(ix)
    assert len(m1.segments) == 1
    p1 = os.path.join(segment_dir(ix, m1.segments[0].segment_id), "postings")
    after = {}
    for b in pads.dataset(p1, partitioning="hive").to_table(
        columns=["term", "chunk", "payload"]
    ).to_pylist():
        after[(b["term"], b["chunk"])] = bytes(b["payload"])
    # every base block whose (term, chunk) was untouched by the delta is
    # byte-identical in the merged segment
    untouched = [k for k in before if k in after and k[1] < 1000]
    assert untouched, "expected untouched base groups"
    assert all(before[k] == after[k] for k in untouched)
    # and the merged index answers correctly across both ranges
    s = IndexSearcher(ix)
    assert len(s.search_boolean("alpha", mode="and")) == 600
    assert len(s.search_boolean("beta")) == 500
    assert len(s.search_boolean("gamma")) == 100
    assert s.n_docs == 600


def test_multigen_wand_matches_merged(spark, tmp_path):
    """IndexSearcher over an UNMERGED 2-generation index (with shadowed
    stale docs) must return exactly what the merged index returns."""
    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.merge import merge_all
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    rng = np.random.default_rng(9)
    texts = [
        " ".join(f"t{rng.integers(0, 60)}" for _ in range(10)) for _ in range(400)
    ]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ix_a = str(tmp_path / "unmerged")
    ix_b = str(tmp_path / "merged")
    stale = corpus.filter("doc_id % 2 = 1").withColumn(
        "text", F.concat(F.lit("stale "), F.col("text"))
    )
    for ix in (ix_a, ix_b):
        build_segment(
            spark, corpus.filter("doc_id % 2 = 0").unionByName(stale), ix,
            num_partitions=4,
        )
        build_segment(spark, corpus.filter("doc_id % 2 = 1"), ix)
    merge_all(spark, ix_b)

    sa, sb = IndexSearcher(ix_a), IndexSearcher(ix_b)
    assert sa.n_docs == sb.n_docs and sa.avgdl == sb.avgdl
    for q in ("t1 t2", "t5", "t10 t20 t30", "stale"):
        assert sa.search(q, k=10) == sb.search(q, k=10), f"mismatch on {q!r}"


def test_hot_phrase_distributed_paths_bounded(spark, tmp_path):
    """A phrase whose terms appear in 80% of docs: the distributed
    phrase/near/boolean paths stay linear (per-doc rows with position
    arrays — no self-join, no quadratic candidate blowup) and agree with
    the serving path."""
    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.query.segments import (
        boolean_match,
        near_match,
        phrase_match,
    )
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    n = 2000
    texts = []
    for d in range(n):
        if d % 5 == 0:
            texts.append(f"filler{d} alone here")
        elif d % 2 == 0:
            texts.append(f"hot term pair doc{d}")          # phrase present
        else:
            texts.append(f"hot doc{d} term spread wide")   # both, not adjacent
    corpus = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})
    )
    ix = str(tmp_path / "ix")
    build_segment(
        spark, corpus, ix, num_partitions=8, store_fields=True,
        with_positions=True,
    )
    got = phrase_match(spark, ix, "hot term").collect()
    s = IndexSearcher(ix)
    assert [r["doc_id"] for r in got] == list(
        s.search_phrase("hot term", use="positions")
    )
    assert len(got) == len([d for d in range(n) if d % 5 and d % 2 == 0])
    # window=2 == adjacency (either order): only the phrase docs qualify;
    # window=3 additionally admits the hot-X-term docs (span 2)
    assert near_match(spark, ix, "hot term", window=2).count() == len(got)
    assert near_match(spark, ix, "hot term", window=3).count() == n - n // 5
    assert boolean_match(spark, ix, "hot term").count() == n - n // 5


def test_connected_components_chain_log_rounds(spark):
    """Large-star/small-star must collapse a LONG chain (diameter 10^4) in
    logarithmic rounds — min-label propagation would need ~10^4. Labels
    must still be the component minimum for every node."""
    import math

    from lucene_mapreduce_spark.operators.curation import _star_rounds

    n = 10_000
    edges = spark.range(1, n).selectExpr("id + 1 AS u", "id AS v")
    stars, rounds = _star_rounds(edges, max_iter=50)
    assert rounds <= 2 * math.ceil(math.log2(n)), rounds
    got = stars.collect()
    assert all(r["v"] == 1 for r in got), "every non-root must point at min"
    assert {r["u"] for r in got} == set(range(2, n + 1))
