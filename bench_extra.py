"""Isolation benchmarks (optimization guide §1.4) — NOT part of the frozen
driver contract; bench.py is untouched. Each mode isolates one bench leg with
noop sinks and labeled jobs so the numbers in OPTIMIZATION_r06.md attribute
wall time to the right operator.

Usage:
  python bench_extra.py build   [cpus] [n_conv]   # stage split of one build
  python bench_extra.py query   [cpus] [n_conv]   # batch-query leg sub-steps
  python bench_extra.py merge   [cpus] [n_conv]   # merge_all leg sub-steps
All modes write scratch under /dev/shm and clean up.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

MODE = sys.argv[1] if len(sys.argv) > 1 else "query"
CPUS = int(sys.argv[2]) if len(sys.argv) > 2 else 16
N_CONV = int(sys.argv[3]) if len(sys.argv) > 3 else 250_000


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _session(cpus: int, eventlog_dir: str | None = None):
    from lucene_mapreduce_spark.session import get_spark

    extra = {
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    }
    local = "/dev/shm/lmr_bench_local"
    os.makedirs(local, exist_ok=True)
    extra["spark.local.dir"] = local
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        extra["spark.eventLog.enabled"] = "true"
        extra["spark.eventLog.dir"] = eventlog_dir
        extra["spark.eventLog.compress"] = "false"
    return get_spark(
        f"bx_{MODE}_{cpus}", cpus=cpus, shuffle_partitions=2 * cpus, extra_conf=extra
    )


def _corpus(spark, work: str) -> tuple[str, int]:
    from lucene_mapreduce_spark.datagen.transcripts import (
        transcripts_df_distributed,
        with_docid,
    )

    corpus_path = os.path.join(work, "corpus")
    (
        with_docid(
            transcripts_df_distributed(spark, n_conv=N_CONV, seed=42, partitions=64)
        )
        .select("doc_id", "text")
        .write.mode("overwrite")
        .parquet(corpus_path)
    )
    import duckdb

    lo, hi = duckdb.sql(
        f"SELECT min(doc_id), max(doc_id) FROM read_parquet('{corpus_path}/*.parquet')"
    ).fetchone()
    span = max(int(hi) - int(lo) + 1, 1)
    return corpus_path, max(span // 128, 1 << 12)


BENCH_QUERIES = [
    "tok00000 tok00001",
    "tok00002 tok00010 tok00100",
    "tok00005 tok01500",
    "tok00000 tok00001 tok00002 tok00004 tok00010",
    "tok00042",
]


def mode_query() -> None:
    from pyspark.sql import functions as F

    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.query import segments as seg
    from lucene_mapreduce_spark.query.bm25_df import _contrib_frame, score_and_topk

    work = tempfile.mkdtemp(prefix="lmr_bx_", dir="/dev/shm")
    t: dict[str, float] = {}
    try:
        spark = _session(CPUS)
        corpus_path, chunk_docs = _corpus(spark, work)
        corpus = spark.read.parquet(corpus_path)
        ix = os.path.join(work, "ix")
        t0 = time.perf_counter()
        build_segment(spark, corpus, ix, num_partitions=32, chunk_docs=chunk_docs)
        t["build"] = time.perf_counter() - t0
        m = load_manifest(ix)

        qdf = spark.createDataFrame(
            [(f"q{i}", q) for i, q in enumerate(BENCH_QUERIES)],
            "query_id string, query_text string",
        )
        sc = spark.sparkContext

        def leg(name: str, fn) -> None:
            sc.setJobDescription(name)
            t0 = time.perf_counter()
            fn()
            t[name] = time.perf_counter() - t0
            sc.setJobDescription(None)

        terms = sorted(
            {t for q in BENCH_QUERIES for t in q.split()}
        )
        # warm the JVM + file listing once
        leg("warm_full", lambda: seg.bm25_index_topk(spark, ix, qdf, k=10).collect())
        # sub-steps (warm)
        leg("read_postings_noop", lambda: _noop(seg.read_postings(spark, ix, terms, m)))
        leg(
            "term_dfs",
            lambda: seg.term_dfs(spark, ix, terms, m).collect(),
        )

        def _approx():
            matched = seg._matched_frame(spark, ix, qdf, 256, manifest=m)
            _noop(
                _contrib_frame(matched)
                .groupBy("query_id", "doc_id")
                .agg(F.sum("contrib").alias("s_ap"))
            )

        leg("contrib_approx_noop", _approx)
        leg("full_5q_rep2", lambda: seg.bm25_index_topk(spark, ix, qdf, k=10).collect())
        leg("full_5q_rep3", lambda: seg.bm25_index_topk(spark, ix, qdf, k=10).collect())

        qbig = spark.range(10000).selectExpr(
            "concat('q', id) AS query_id",
            "concat('tok', lpad(cast(500 + id % 1500 AS string), 5, '0'), ' ', "
            "'tok', lpad(cast(500 + (id * 7) % 1500 AS string), 5, '0')) AS query_text",
        )
        leg(
            "big_10k_rep1",
            lambda: seg.bm25_index_topk(spark, ix, qbig, k=10).count(),
        )
        leg(
            "big_10k_rep2",
            lambda: seg.bm25_index_topk(spark, ix, qbig, k=10).count(),
        )
        spark.stop()

        # serving cold/warm on the same index, same process state as bench.py
        from lucene_mapreduce_spark.query.wand import IndexSearcher

        searcher = IndexSearcher(ix)
        cold = []
        for q in BENCH_QUERIES:
            best = float("inf")
            for _ in range(2):
                searcher.clear_caches()
                t0 = time.perf_counter()
                searcher.search(q, k=10)
                best = min(best, time.perf_counter() - t0)
            cold.append(best)
        lat = []
        for i in range(100):
            q = BENCH_QUERIES[i % len(BENCH_QUERIES)]
            t0 = time.perf_counter()
            searcher.search(q, k=10)
            lat.append(time.perf_counter() - t0)
        lat.sort()
        t["wand_cold_max"] = max(cold)
        t["wand_p50"] = lat[len(lat) // 2]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: round(v, 3) for k, v in t.items()}))


def mode_merge() -> None:
    from pyspark.sql import functions as F

    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.merge import merge_all

    work = tempfile.mkdtemp(prefix="lmr_bx_", dir="/dev/shm")
    t: dict[str, float] = {}
    try:
        spark = _session(CPUS)
        corpus_path, chunk_docs = _corpus(spark, work)
        corpus = spark.read.parquet(corpus_path)
        ix = os.path.join(work, "ix")
        t0 = time.perf_counter()
        build_segment(spark, corpus, ix, num_partitions=32, chunk_docs=chunk_docs)
        t["build"] = time.perf_counter() - t0
        delta = corpus.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).withColumn(
            "text", F.concat(F.lit("updated "), F.col("text"))
        )
        t0 = time.perf_counter()
        build_segment(spark, delta, ix)
        t["build_delta"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        merge_all(spark, ix, fanin=8)
        t["merge_all"] = time.perf_counter() - t0
        delta_new = corpus.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 3).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1 << 41)
        )
        t0 = time.perf_counter()
        build_segment(spark, delta_new, ix)
        t["build_delta_new"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        merge_all(spark, ix, fanin=8)
        t["merge_incremental_new_range"] = time.perf_counter() - t0
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({k: round(v, 3) for k, v in t.items()}))


def mode_build() -> None:
    from pyspark.sql import functions as F

    from lucene_mapreduce_spark.index.build import build_segment

    work = tempfile.mkdtemp(prefix="lmr_bx_", dir="/dev/shm")
    ev = os.path.join(work, "eventlog")
    t: dict[str, object] = {}
    try:
        spark = _session(CPUS, eventlog_dir=ev)
        corpus_path, chunk_docs = _corpus(spark, work)
        corpus = spark.read.parquet(corpus_path)
        corpus.count()
        warm = corpus.filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
        build_segment(spark, warm, os.path.join(work, "warm"), num_partitions=32,
                      chunk_docs=chunk_docs)
        import gc

        reps = []
        for r in range(3):
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            tgt = os.path.join(work, f"ix_{r}")
            t0 = time.perf_counter()
            build_segment(spark, corpus, tgt, num_partitions=32, chunk_docs=chunk_docs)
            reps.append(round(time.perf_counter() - t0, 3))
            shutil.rmtree(tgt, ignore_errors=True)
        t["build_reps"] = reps
        spark.stop()
        # stage split from the event log
        import glob

        stages: dict[int, dict] = {}
        files = [
            p
            for p in glob.glob(os.path.join(ev, "**", "*"), recursive=True)
            if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
        ]
        for f in files:
            with open(f) as fh:
                for line in fh:
                    try:
                        e = json.loads(line)
                    except Exception:
                        continue
                    if e.get("Event") == "SparkListenerStageCompleted":
                        si = e["Stage Info"]
                        sid = si["Stage ID"]
                        dur = (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1e3
                        stages[sid] = {
                            "name": si.get("Stage Name", "")[:70],
                            "tasks": si.get("Number of Tasks"),
                            "wall_s": round(dur, 2),
                        }
        t["stages"] = [stages[k] for k in sorted(stages)]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(t, indent=1))


if __name__ == "__main__":
    {"query": mode_query, "merge": mode_merge, "build": mode_build}[MODE]()
