"""The two workloads. See README.md for why each exists and its sizes.

- ``ingest``: the write path (base build, an hourly append, merge, TTL
  purge), then, with Spark stopped, a serving loop on the final index.
- ``query``: the read path on a single merged segment: Spark batch top-k
  (a large Zipf batch and three 5-query batches), then, with Spark
  stopped, the same serving loop.

Each workload returns a ``Result``: the end-to-end metrics (printed by an
untraced run) and the per-layer metrics (printed by a traced run). Both
workloads report every metric name. A layer a workload leaves idle reports
0 for its counts, bytes and shares; every per-layer time is measured on
both workloads, and layer time inside the timed spans is reported as a
share of them (``*_pct``).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from perfbench import inputs
from perfbench.env import SLOTS, BenchEnv, timed
from perfbench.metrics import OpCounter, slot_idle_frac, tail_percentile
from perfbench.trace import Span, Tracer, read_event_logs, spark_stats_by_span, sum_stats

VOCAB = 20_000
NUM_PARTITIONS = 8  # index phash partitions
GEN_REPS = 3  # input generation is repeated; set-up reports the median
TOP_K = 10

# ingest
INGEST_BASE_CONV = 1_500
INGEST_WARM_CONV = 300
INGEST_HOUR_UPDATES = 300
INGEST_HOUR_NEW_CONV = 60
TTL_CUTOFF = inputs.BASE_START + inputs.DAY  # expires the first base day

# query
QUERY_CONV = 1_500
BATCH_LARGE = 96
BATCH_SMALL = 5
SMALL = ("S0", "S1", "S2")  # distinct small batches; their cost varies with the terms
# timed batch order: the first small batch compiles the query plans cold;
# every small batch then runs once on a JVM warmed by the large batches
BATCH_ORDER = ("S0", "L", "L", *SMALL)
BATCH_CHECK_LARGE = 8

# serving loop (both workloads)
SERVE_TAIL_FROM_RANK = 1_000  # tail vocabulary: df rank >= this
SERVE_WARM_QUERIES = 30
SERVE_MIN_QUERIES = 200  # p95 keeps >= 10 samples beyond it
HEAD_DF_FRAC = 0.01  # a query is "head" when its largest term df >= 1% of docs

CHECK_QUERIES = 2  # per class (Zipf, tail) for each oracle check
SCORE_RTOL = 1e-14  # Spark batch scores vs IndexSearcher: ~45 ulps


class InjectedCrash(RuntimeError):
    pass


@dataclass
class Result:
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)


@dataclass
class Vocab:
    """Query vocabulary of a corpus: document frequencies and tail terms."""
    df_of: dict[str, int]
    head_df: float
    tail_terms: np.ndarray

    @classmethod
    def of(cls, texts: pd.Series) -> "Vocab":
        tab = inputs.term_table(texts)
        return cls(dict(zip(tab["term"], tab["df"])), HEAD_DF_FRAC * len(texts),
                   tab["term"].to_numpy()[SERVE_TAIL_FROM_RANK:])

    def query_class(self, q: str) -> str:
        dfs = [self.df_of.get(t, 0) for t in q.split()]
        return "head" if max(dfs, default=0) >= self.head_df else "tail"

    def stream(self, rng: np.random.Generator):
        """Endless seeded stream of (class, query): Zipf-drawn and tail
        queries alternate one to one, so the two gated class medians rest
        on the same number of samples. Tail terms are dealt without
        replacement from a shuffled tail vocabulary, so every tail term is
        read cold on its first touch."""
        tail = inputs.TailDealer(rng, self.tail_terms)
        while True:
            zipf = inputs.zipf_queries(rng, 64, VOCAB)
            for z, t in zip(zipf, tail.queries(64)):
                yield "zipf", z
                yield "tail", t

    def check_queries(self, rng: np.random.Generator) -> list[str]:
        return (inputs.zipf_queries(rng, CHECK_QUERIES, VOCAB)
                + inputs.TailDealer(rng, self.tail_terms).queries(CHECK_QUERIES))


@dataclass
class Serve:
    qps: float
    zipf_p50_ms: float
    tail_p50_ms: float


@dataclass
class Run:
    env: BenchEnv
    seed: int
    seconds: float
    tr: Tracer = field(init=False)
    ops: OpCounter = field(default_factory=OpCounter)
    session_s: float = 0.0
    gen_s: float = 0.0
    setup_engine_s: float = 0.0
    roots: list[Span] = field(default_factory=list)  # the timed spans
    # search latencies (ms) by query class, from every timed search
    lat: dict[str, list[float]] = field(default_factory=lambda: {"head": [], "tail": []})
    searcher_open_s: float = 0.0
    wand_terms: set[str] = field(default_factory=set)

    def __post_init__(self):
        self.tr = Tracer(self.env.trace)

    @property
    def trace(self) -> bool:
        return self.env.trace

    @property
    def setup_s(self) -> float:
        return self.session_s + self.gen_s + self.setup_engine_s

    def start_session(self, app: str, cpus: int = SLOTS):
        with self.tr.span("session", "start"):
            spark, s = timed(self.env.start_spark, app, cpus)
        self.tr.attach_spark(spark.sparkContext)
        return spark, s

    def stop_spark(self) -> None:
        self.tr.attach_spark(None)
        self.env.stop_spark()

    def generate(self, fn):
        """Run the input generator GEN_REPS times (it is deterministic) and
        keep the median time."""
        times, out = [], None
        with self.tr.span("datagen", "generate"):
            for _ in range(GEN_REPS):
                out, s = timed(fn)
                times.append(s)
        self.gen_s = statistics.median(times)
        return out

    def timed_span(self, name: str):
        """A span of the measured work; per-layer shares are taken over these."""
        return self.tr.span("bench", name)

    def note(self, msg: str) -> None:
        """A human-readable detail line (stdout, before the result line)."""
        print(msg, flush=True)


# ------------------------------------------------------------------ helpers


def _spark_corpus(spark, path: str):
    from lucene_mapreduce_spark.datagen.transcripts import with_docid

    return with_docid(spark.read.parquet(path)).select("doc_id", "text")


def _latest(live: pd.DataFrame, hour: pd.DataFrame) -> pd.DataFrame:
    """The live corpus after an hour's arrivals: latest wins per doc id."""
    return pd.concat([live, hour.assign(doc_id=inputs.doc_ids(hour))],
                     ignore_index=True).drop_duplicates("doc_id", keep="last")


def _docs(df: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": inputs.doc_ids(df), "text": df["text"].to_numpy()})


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _index_bytes(index_dir: str) -> int:
    """Bytes of the segments the manifest references (superseded segment
    directories are garbage, not index)."""
    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir

    m = load_manifest(index_dir)
    return sum(_dir_bytes(segment_dir(index_dir, s.segment_id)) for s in m.segments)


def _search(run: Run, searcher, q: str, cls: str) -> tuple[list[tuple[int, float]], float]:
    """One IndexSearcher.search call and its latency in ms. The traced form
    splits the cold read + decode (prefetch_terms) from scoring."""
    from lucene_mapreduce_spark.functions.tokenize import tokenize_string

    terms = sorted(set(tokenize_string(q)))
    run.wand_terms.update(terms)
    t0 = time.perf_counter()
    if run.trace:
        with run.tr.span("query.wand", "prefetch"):
            searcher.prefetch_terms(terms)
        with run.tr.span("query.wand", "score"):
            out = searcher.search(q, k=TOP_K)
    else:
        out = searcher.search(q, k=TOP_K)
    ms = (time.perf_counter() - t0) * 1000.0
    run.lat[cls].append(ms)
    return out, ms


def _same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Same doc ids in the same order, scores equal to SCORE_RTOL.

    The Spark batch path computes idf with Spark's ``log``, which differs
    from the libm ``math.log`` used by IndexSearcher and the oracle in the
    last bit for about 2% of inputs, so its scores can differ by a few ulps.
    The ranking must still match exactly; the queries whose score bits
    differ are counted in ``query.segments.score_bit_mismatches``."""
    return [d for d, _ in got] == [d for d, _ in want] and all(
        math.isclose(a, b, rel_tol=SCORE_RTOL, abs_tol=0.0)
        for (_, a), (_, b) in zip(got, want)
    )


def _open_searcher(run: Run, index_dir: str):
    from lucene_mapreduce_spark.query.wand import IndexSearcher

    with run.tr.span("query.wand", "open"):
        s, secs = timed(IndexSearcher, index_dir)
    run.searcher_open_s += secs
    return s


def _serve_loop(run: Run, searcher, vocab: Vocab, rng: np.random.Generator) -> Serve:
    """Closed loop, one client: warm up, then search back to back for
    ``run.seconds`` and at least SERVE_MIN_QUERIES queries."""
    queries = vocab.stream(rng)
    with run.tr.span("query.wand", "warm-up"):
        for _ in range(SERVE_WARM_QUERIES):
            searcher.search(next(queries)[1], k=TOP_K)
    lat: dict[str, list[float]] = {"zipf": [], "tail": []}
    n, t0 = 0, time.perf_counter()
    with run.timed_span("serve") as root:
        while n < SERVE_MIN_QUERIES or time.perf_counter() - t0 < run.seconds:
            cls, q = next(queries)
            got = run.ops.run("search", lambda q=q: _search(run, searcher, q, vocab.query_class(q)))
            n += 1
            if got is not None:
                lat[cls].append(got[1])
    wall = time.perf_counter() - t0
    if root is not None:
        run.roots.append(root)
    return Serve(n / wall, statistics.median(lat["zipf"]), statistics.median(lat["tail"]))


def _oracle_checks(run: Run, searcher, docs: pd.DataFrame, queries: list[str],
                   label: str) -> None:
    """IndexSearcher.search top-k must equal the pandas float64 oracle:
    same doc ids in the same order, bit-identical scores."""
    from lucene_mapreduce_spark.query.bm25 import bm25_oracle_pandas

    for q in queries:
        got = run.ops.run(f"{label} search", lambda q=q: searcher.search(q, k=TOP_K))
        with run.tr.span("query.bm25", "oracle"):
            want = bm25_oracle_pandas(docs, q, k=TOP_K)
        expect = list(zip(want["doc_id"].tolist(), want["score"].tolist()))
        if got is not None:
            run.ops.check(f"{label} oracle {q!r}", got == expect,
                          f"got {got[:3]} want {expect[:3]}")


def _codec_probe(run: Run, index_dir: str) -> tuple[float, int]:
    """Postings per second of the public decode_postings_many over every
    posting payload of the index, read with pyarrow."""
    import pyarrow.dataset as ds

    from lucene_mapreduce_spark.index.codec import decode_postings_many
    from lucene_mapreduce_spark.index.manifest import load_manifest, segment_dir

    m = load_manifest(index_dir)
    n_post, n_bytes, secs = 0, 0, 0.0
    for s in m.segments:
        tbl = ds.dataset(
            os.path.join(segment_dir(index_dir, s.segment_id), "postings"),
            format="parquet", partitioning="hive",
        ).to_table(filter=ds.field("phash") < m.num_partitions, columns=["payload"])
        col = tbl["payload"].combine_chunks()
        offs = np.frombuffer(col.buffers()[1], np.int32)[col.offset:col.offset + len(col) + 1]
        data = np.frombuffer(col.buffers()[2], np.uint8)
        with run.tr.span("index.codec", "decode"):
            (d, _tf, _dl), dt = timed(decode_postings_many, data, offs[:-1], offs[1:])
        n_post += len(d)
        n_bytes += int(offs[-1] - offs[0])
        secs += dt
    return n_post / secs, n_bytes


def _e2e(run: Run, throughput: float, step_ms: float, serve: Serve,
         idx_ratio: float) -> dict[str, tuple[float, str]]:
    return {
        "setup_s": (run.setup_s, "s"),
        "throughput_per_s": (throughput, "1/s"),
        "step_ms": (step_ms, "ms"),
        "serve_qps": (serve.qps, "1/s"),
        "serve_zipf_p50_ms": (serve.zipf_p50_ms, "ms"),
        "serve_tail_p50_ms": (serve.tail_p50_ms, "ms"),
        "peak_rss_mb": (run.env.peak_rss_mb(), "MB"),
        "index_bytes_per_text_byte": (idx_ratio, "ratio"),
    }


# Per-layer metric names both workloads print, with units. Layers a
# workload leaves idle report 0 (never for a time: every time is measured
# on both workloads).
LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "datagen.gen_s": "s",
    "bench.timed_span_s": "s",
    "bench.untraced_pct": "%",
    "bench.trace_overhead_pct": "%",
    "bench.traced_throughput_per_s": "1/s",
    "index.build.wall_s": "s",
    "index.build.map_task_s": "s",
    "index.build.reduce_task_s": "s",
    "index.build.shuffle_write_bytes": "bytes",
    "index.build.spill_bytes": "bytes",
    "index.build.slot_idle_frac": "ratio",
    "index.build.segment_bytes": "bytes",
    "index.build.self_pct": "%",
    "index.build.scaling_eff_1to2": "ratio",
    "streaming.incremental.self_pct": "%",
    "streaming.incremental.jobs_per_call": "count",
    "streaming.incremental.slot_idle_frac": "ratio",
    "index.merge.self_pct": "%",
    "index.merge.task_pct": "%",
    "index.merge.bytes_read": "bytes",
    "index.merge.bytes_written": "bytes",
    "index.merge.rewrite_amp": "ratio",
    "index.merge.shuffle_bytes": "bytes",
    "index.merge.resume_ratio": "ratio",
    "index.ttl.self_pct": "%",
    "index.ttl.bytes_written": "bytes",
    "index.ttl.docs_expired": "count",
    "index.manifest.commits": "count",
    "query.segments.self_pct": "%",
    "query.segments.read_share_pct": "%",
    "query.segments.term_dfs_share_pct": "%",
    "query.bm25_df.score_rank_share_pct": "%",
    "query.segments.matched_postings": "count",
    "query.segments.jobs_per_call": "count",
    "query.segments.shuffle_bytes": "bytes",
    "query.segments.spill_bytes": "bytes",
    "query.segments.slot_idle_frac": "ratio",
    "query.segments.rep_drift_pct": "%",
    "query.segments.score_bit_mismatches": "count",
    "index.codec.decode_postings_per_s": "1/s",
    "index.codec.decoded_bytes": "bytes",
    "query.wand.open_s": "s",
    "query.wand.prefetch_pct": "%",
    "query.wand.score_pct": "%",
    "query.wand.head_p50_ms": "ms",
    "query.wand.tail_p50_ms": "ms",
    "query.wand.tail_latency_ms": "ms",
    "query.wand.tail_latency_pctile": "pct",
    "query.wand.latency_samples": "count",
    "query.wand.distinct_terms": "count",
}

_SHARE_OF_LAYER = {  # timed-span share metric -> (layer, span name or None)
    "index.build.self_pct": ("index.build", None),
    "streaming.incremental.self_pct": ("streaming.incremental", None),
    "index.merge.self_pct": ("index.merge", None),
    "index.ttl.self_pct": ("index.ttl", None),
    "query.segments.self_pct": ("query.segments", None),
    "query.wand.prefetch_pct": ("query.wand", "prefetch"),
    "query.wand.score_pct": ("query.wand", "score"),
}


def _layer_result(run: Run, throughput: float,
                  extra: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric: layer self-time shares of the timed spans,
    event-log Spark stats per layer, serving latencies and the workload's
    own extras. Spark must be stopped first so the event log is complete."""
    tr = run.tr
    span_s = sum(r.dur for r in run.roots)
    inside = [s for r in run.roots for s in tr.under(r)[1:]]
    vals: dict[str, float] = dict.fromkeys(LAYER_UNITS, 0.0)
    for key, (layer, name) in _SHARE_OF_LAYER.items():
        got = sum(s.self_s for s in inside
                  if s.layer == layer and (name is None or s.name == name))
        vals[key] = 100.0 * got / span_s
    vals["bench.timed_span_s"] = span_s
    vals["bench.untraced_pct"] = 100.0 * sum(r.self_s for r in run.roots) / span_s
    vals["bench.trace_overhead_pct"] = 100.0 * tr.overhead_s / span_s
    vals["bench.traced_throughput_per_s"] = throughput
    vals["session.start_s"] = run.session_s
    vals["datagen.gen_s"] = run.gen_s

    per_span = spark_stats_by_span(read_event_logs(run.env.path("eventlog")), tr.spans)

    def layer_stats(layer: str, name: str | None = None):
        spans = tr.layer_spans(layer, name)
        st = sum_stats(per_span[s.sid] for s in spans if s.sid in per_span)
        return spans, st, sum(s.dur for s in spans)

    spans, st, wall = layer_stats("index.build", "build")
    vals["index.build.wall_s"] = wall
    vals["index.build.map_task_s"] = st.map_task_s
    vals["index.build.reduce_task_s"] = st.reduce_task_s
    vals["index.build.shuffle_write_bytes"] = st.shuffle_write_bytes
    vals["index.build.spill_bytes"] = st.spill_bytes
    vals["index.build.slot_idle_frac"] = slot_idle_frac(st.task_s, wall, SLOTS)

    spans, st, wall = layer_stats("streaming.incremental", "append")
    if spans:
        vals["streaming.incremental.jobs_per_call"] = st.jobs / len(spans)
        vals["streaming.incremental.slot_idle_frac"] = slot_idle_frac(st.task_s, wall, SLOTS)

    spans, st, wall = layer_stats("index.merge", "merge")
    if spans:
        vals["index.merge.task_pct"] = 100.0 * st.task_s / (wall * SLOTS)
        vals["index.merge.bytes_read"] = st.input_bytes
        vals["index.merge.bytes_written"] = st.output_bytes
        vals["index.merge.shuffle_bytes"] = st.shuffle_write_bytes

    spans, st, wall = layer_stats("index.ttl")
    if spans:
        vals["index.ttl.bytes_written"] = st.output_bytes

    spans, st, wall = layer_stats("query.segments", "topk")
    if spans:
        vals["query.segments.jobs_per_call"] = st.jobs / len(spans)
        vals["query.segments.shuffle_bytes"] = st.shuffle_write_bytes / len(spans)
        vals["query.segments.spill_bytes"] = st.spill_bytes
        vals["query.segments.slot_idle_frac"] = slot_idle_frac(st.task_s, wall, SLOTS)

    tail = tail_percentile(run.lat["head"] + run.lat["tail"])
    vals.update({
        "query.wand.open_s": run.searcher_open_s,
        "query.wand.head_p50_ms": statistics.median(run.lat["head"]),
        "query.wand.tail_p50_ms": statistics.median(run.lat["tail"]),
        "query.wand.tail_latency_ms": tail.value,
        "query.wand.tail_latency_pctile": tail.pct,
        "query.wand.latency_samples": tail.n,
        "query.wand.distinct_terms": len(run.wand_terms),
    })
    vals.update(extra)
    return {k: (float(v), LAYER_UNITS[k]) for k, v in vals.items()}


# ------------------------------------------------------------------- ingest


def ingest(run: Run) -> Result:
    """Base build, one hourly append, merge, TTL purge, then serving on the
    final index."""
    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.index.merge import merge_all
    from lucene_mapreduce_spark.index.ttl import purge_expired
    from lucene_mapreduce_spark.streaming.incremental import run_incremental_build

    tr, ops, env = run.tr, run.ops, run.env
    spark, run.session_s = run.start_session("perfbench-ingest")

    def gen():
        rng = np.random.default_rng(run.seed)
        base = inputs.corpus(run.seed, INGEST_BASE_CONV, VOCAB)
        warm = inputs.corpus(run.seed + 1, INGEST_WARM_CONV, VOCAB, conv_offset=10_000_000)
        base_ids = base.assign(doc_id=inputs.doc_ids(base))
        hour = inputs.hour_file(rng, base_ids, 0, INGEST_HOUR_UPDATES, INGEST_HOUR_NEW_CONV,
                                conv_offset=INGEST_BASE_CONV, vocab=VOCAB)
        live = _latest(base_ids, hour)
        expired = live.loc[live["ts"] < TTL_CUTOFF, "doc_id"].to_numpy()
        # two spare hours shaped like hour 0, over the docs left after TTL,
        # for the crash-resume check: one merged cleanly, one crashed
        after_ttl = live[~live["doc_id"].isin(expired)]
        spare = [inputs.hour_file(rng, after_ttl, h, INGEST_HOUR_UPDATES, INGEST_HOUR_NEW_CONV,
                                  conv_offset=INGEST_BASE_CONV + h * INGEST_HOUR_NEW_CONV,
                                  vocab=VOCAB) for h in (1, 2)]
        return base, warm, hour, spare, live, expired, Vocab.of(live["text"])

    base, warm, hour, spare, live, expired, vocab = run.generate(gen)
    paths = {k: env.path("ingest", k) for k in ("base", "warm", "staged", "stream", "ckpt")}
    for p in paths.values():
        os.makedirs(p)
    inputs.write_parquet(base, os.path.join(paths["base"], "part-0.parquet"))
    inputs.write_parquet(warm, os.path.join(paths["warm"], "part-0.parquet"))
    inputs.write_parquet(hour, os.path.join(paths["staged"], "hour-00.parquet"))
    for h, df in enumerate(spare, start=1):
        inputs.write_parquet(df, os.path.join(paths["staged"], f"hour-{h:02d}.parquet"))
    ix = env.path("ingest", "index")
    rng = np.random.default_rng(run.seed + 2)

    # set-up: one small build warms the JVM and the Python workers
    t0 = time.perf_counter()
    with tr.span("index.build", "warm-up", spark=True):
        ops.run("warm-up build", lambda: build_segment(
            spark, _spark_corpus(spark, paths["warm"]), env.path("ingest", "warm-ix"),
            num_partitions=NUM_PARTITIONS))
    run.setup_engine_s = time.perf_counter() - t0

    def append(h: int) -> float:
        name = f"hour-{h:02d}.parquet"  # the hour's file arrives
        shutil.move(os.path.join(paths["staged"], name), os.path.join(paths["stream"], name))
        with tr.span("streaming.incremental", "append", spark=True):
            _, s = timed(ops.run, f"append hour {h}", lambda: run_incremental_build(
                spark, paths["stream"], ix, paths["ckpt"], num_partitions=NUM_PARTITIONS))
        return s

    # ---- timed, part 1: bulk build + the hour's append
    with run.timed_span("write") as root:
        with tr.span("index.build", "build", spark=True):
            _, base_s = timed(ops.run, "base build", lambda: build_segment(
                spark, _spark_corpus(spark, paths["base"]), ix,
                num_partitions=NUM_PARTITIONS))
        append_s = append(0)
    run.roots += [root] if root else []

    # check (untimed): the two-generation index masks shadowed docs
    # through the searcher's latest-wins live map
    _oracle_checks(run, _open_searcher(run, ix), _docs(live), vocab.check_queries(rng),
                   "two-generation")

    # ---- timed, part 2: merge + TTL
    with run.timed_span("write") as root:
        with tr.span("index.merge", "merge", spark=True):
            _, merge_s = timed(ops.run, "merge", lambda: merge_all(spark, ix))
        with tr.span("index.ttl", "purge", spark=True):
            _, ttl_s = timed(ops.run, "ttl purge", lambda: purge_expired(
                spark, ix, spark.createDataFrame(
                    pd.DataFrame({"doc_id": expired}), "doc_id long")))
    run.roots += [root] if root else []
    write_s = base_s + append_s + merge_s + ttl_s
    throughput = (len(base) + len(hour)) / write_s
    live = live[~live["doc_id"].isin(expired)]
    index_bytes = _index_bytes(ix)
    commits = load_manifest(ix).version
    # ---- timed, part 3: serving the final index with Spark stopped (a
    # live SparkContext next to the loop made its timings swing)
    run.stop_spark()
    final = _open_searcher(run, ix)
    serve = _serve_loop(run, final, vocab, rng)
    run.note(f"ingest: base build {base_s:.3f} s, append {append_s:.3f} s, "
             f"merge {merge_s:.3f} s, ttl {ttl_s:.3f} s; serve {serve.qps:.1f} q/s")
    res = Result(e2e=_e2e(run, throughput, (append_s + merge_s) * 1000.0, serve,
                          index_bytes / inputs.text_bytes(live["text"])))

    # ---- checks (untimed): final index vs the oracle over the live corpus
    ops.check("live doc count", final.n_docs == len(live),
              f"searcher {final.n_docs} vs live {len(live)}")
    _oracle_checks(run, final, _docs(live), vocab.check_queries(rng), "final")
    if not run.trace:
        return res

    # crash-resume: spare hour 1 is merged cleanly; the merge of spare hour
    # 2 (same makeup) dies after its segment is written (the public fault
    # hook), then a rerun must finish it and the index must still answer
    # like the oracle
    spark, _ = run.start_session("perfbench-ingest-resume")
    append(1)
    with tr.span("index.merge", "clean", spark=True):
        _, clean_s = timed(ops.run, "merge hour 1", lambda: merge_all(spark, ix))
    append(2)

    def crash(point: str) -> None:
        if point == "written":
            raise InjectedCrash(point)

    with tr.span("index.merge", "crashed", spark=True):
        try:
            merge_all(spark, ix, fault=crash)
            ops.check("merge fault hook fired", False)
        except InjectedCrash:
            ops.check("merge fault hook fired", True)
    with tr.span("index.merge", "resume", spark=True):
        _, resume_s = timed(ops.run, "merge resume", lambda: merge_all(spark, ix))
    run.stop_spark()
    for df in spare:
        live = _latest(live, df)
    _oracle_checks(run, _open_searcher(run, ix), _docs(live), vocab.check_queries(rng),
                   "resumed")

    # 1-slot rebuild of the base corpus in a fresh context (same warm JVM)
    spark1, _ = run.start_session("perfbench-ingest-1slot", cpus=1)
    ix1 = env.path("ingest", "ix1")
    with tr.span("index.build", "build-1slot", spark=True):
        _, s1 = timed(ops.run, "1-slot build", lambda: build_segment(
            spark1, _spark_corpus(spark1, paths["base"]), ix1, num_partitions=NUM_PARTITIONS))
    run.stop_spark()
    codec_rate, codec_bytes = _codec_probe(run, ix)
    res.layers = _layer_result(run, throughput, {
        "index.build.scaling_eff_1to2": s1 / (2.0 * base_s),
        "index.build.segment_bytes": _index_bytes(ix1),
        "index.merge.resume_ratio": resume_s / clean_s,
        "index.ttl.docs_expired": len(expired),
        "index.manifest.commits": commits,
        "index.codec.decode_postings_per_s": codec_rate,
        "index.codec.decoded_bytes": codec_bytes,
    })
    wrote = res.layers["index.merge.bytes_written"][0]
    res.layers["index.merge.rewrite_amp"] = (wrote / index_bytes, "ratio")
    return res


# -------------------------------------------------------------------- query


def query(run: Run) -> Result:
    """Spark batch top-k over a prebuilt index (a large Zipf batch back to
    back and three 5-query batches), then serving with Spark stopped."""
    from lucene_mapreduce_spark.index.build import build_segment
    from lucene_mapreduce_spark.index.manifest import load_manifest
    from lucene_mapreduce_spark.query.segments import bm25_index_topk, read_postings, term_dfs

    tr, ops, env = run.tr, run.ops, run.env
    spark, run.session_s = run.start_session("perfbench-query")

    def gen():
        rng = np.random.default_rng(run.seed)
        corpus = inputs.corpus(run.seed, QUERY_CONV, VOCAB)
        batches = {"L": inputs.zipf_queries(rng, BATCH_LARGE, VOCAB)}
        batches.update({n: inputs.zipf_queries(rng, BATCH_SMALL, VOCAB) for n in SMALL})
        return corpus, batches, Vocab.of(corpus["text"])

    corpus, batches, vocab = run.generate(gen)
    large_q = batches["L"]
    rng = np.random.default_rng(run.seed + 2)
    cpath, ix = env.path("query", "corpus"), env.path("query", "index")
    os.makedirs(cpath)
    inputs.write_parquet(corpus, os.path.join(cpath, "part-0.parquet"))

    t0 = time.perf_counter()
    with tr.span("index.build", "build", spark=True):
        ops.run("build", lambda: build_segment(
            spark, _spark_corpus(spark, cpath), ix, num_partitions=NUM_PARTITIONS))
    qdf = {
        name: spark.createDataFrame(
            [(f"{name}-{i}", q) for i, q in enumerate(qs)], "query_id string, query_text string")
        for name, qs in batches.items()
    }

    def topk(name: str) -> list[tuple[str, int, int, float]] | None:
        """(query_id, rank, doc_id, score) rows of one batch, sorted."""
        with tr.span("query.segments", "topk", spark=True):
            got = ops.run(f"topk {name}", lambda: bm25_index_topk(
                spark, ix, qdf[name], k=TOP_K).collect())
        return None if got is None else sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"]) for r in got)

    run.setup_engine_s = time.perf_counter() - t0

    # ---- timed, part 1: Spark batch scoring in BATCH_ORDER
    times: dict[str, list[float]] = {name: [] for name in batches}
    rows = {}
    with run.timed_span("batch") as root:
        for name in BATCH_ORDER:
            got, s = timed(topk, name)
            times[name].append(s)
            rows.setdefault(name, got)
            ops.check(f"batch {name} repeatable", got == rows[name])
    run.roots += [root] if root else []
    large_s = times["L"]
    throughput = BATCH_LARGE * len(large_s) / sum(large_s)
    small_ms = 1000.0 * statistics.mean(times[n][-1] for n in SMALL)  # warm reps
    run.note("query: batch reps (s) " + ", ".join(
        f"{n} {[round(x, 3) for x in ts]}" for n, ts in times.items()))

    extra: dict[str, float] = {}
    if run.trace:
        terms = sorted({t for q in large_q for t in q.split()})
        with tr.span("query.segments", "read_postings", spark=True):
            _, read_s = timed(lambda: read_postings(spark, ix, terms).count())
        with tr.span("query.segments", "term_dfs", spark=True):
            dfs, dfs_s = timed(lambda: term_dfs(spark, ix, terms).collect())
        topk_s = statistics.median(large_s)
        df_t = {r["term"]: r["df_t"] for r in dfs}
        # postings the batch scores: every query reads each of its terms
        matched = sum(df_t.get(t, 0) for q in large_q for t in set(q.split()))
        run.note(f"query: large batch matches {matched} postings")
        extra.update({
            "query.segments.matched_postings": matched,
            "query.segments.read_share_pct": 100.0 * read_s / topk_s,
            "query.segments.term_dfs_share_pct": 100.0 * dfs_s / topk_s,
            "query.bm25_df.score_rank_share_pct": 100.0 * (topk_s - read_s) / topk_s,
            "query.segments.rep_drift_pct": 100.0 * (large_s[-1] - large_s[0]) / large_s[0],
        })
    commits = load_manifest(ix).version
    run.stop_spark()

    # ---- timed, part 2: serving, no Spark in the loop
    searcher = _open_searcher(run, ix)
    serve = _serve_loop(run, searcher, vocab, rng)
    res = Result(e2e=_e2e(run, throughput, small_ms, serve,
                          _index_bytes(ix) / inputs.text_bytes(corpus["text"])))

    # ---- checks (untimed): Spark top-k == searcher top-k == oracle
    by_query: dict[str, list[tuple[int, int, float]]] = {}
    for got in rows.values():
        for qid, rank, doc, score in got or []:
            by_query.setdefault(qid, []).append((rank, doc, score))
    texts = {f"{n}-{i}": q for n, qs in batches.items() for i, q in enumerate(qs)}
    sample = [f"{n}-{i}" for n in SMALL for i in range(BATCH_SMALL)] + [
        f"L-{i}" for i in sorted(rng.choice(BATCH_LARGE, BATCH_CHECK_LARGE, replace=False))]
    bit_mismatches = 0
    for qid in sample:
        want = ops.run(f"search {qid}", lambda q=texts[qid]: searcher.search(q, k=TOP_K))
        got = [(d, s) for _, d, s in sorted(by_query.get(qid, []))]
        if want is not None:
            ops.check(f"batch top-k {qid} {texts[qid]!r}", _same_ranking(got, want),
                      f"got {got[:3]} want {want[:3]}")
            bit_mismatches += got != want
    _oracle_checks(run, searcher, _docs(corpus), vocab.check_queries(rng), "serve")

    if run.trace:
        codec_rate, codec_bytes = _codec_probe(run, ix)
        extra.update({
            "query.segments.score_bit_mismatches": bit_mismatches,
            "index.build.segment_bytes": _index_bytes(ix),
            "index.manifest.commits": commits,
            "index.codec.decode_postings_per_s": codec_rate,
            "index.codec.decoded_bytes": codec_bytes,
        })
        res.layers = _layer_result(run, throughput, extra)
    return res


WORKLOADS = {"ingest": ingest, "query": query}
