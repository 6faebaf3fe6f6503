"""Seeded inputs: transcript corpora, hourly update files, query sets.

Every input is a pure function of the workload seed. Corpora come from the
engine's own generator (``datagen.transcripts``, the Zipf vocabulary the
engine is tested on); the hourly files and query mixes are built here on
top of it. The engine only ever sees the generated files and query text.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from lucene_mapreduce_spark.datagen.transcripts import TURN_BITS, gen_transcripts_pandas

ZIPF_A = 1.3  # the generator's default skew; query draws reuse it
DAY = pd.Timedelta(days=1)
BASE_START = pd.Timestamp("2026-01-01")
BASE_DAYS = 9
ACTIVE_SHARE = 0.2  # share of conversations (newest first) that receive updates


def corpus(seed: int, n_conv: int, vocab: int, conv_offset: int = 0) -> pd.DataFrame:
    """Transcript-schema frame; conversation numbers start at conv_offset."""
    df = gen_transcripts_pandas(
        n_conv=n_conv, seed=seed, vocab_size=vocab,
        start_ts=str(BASE_START.date()), n_days=BASE_DAYS,
    )
    if conv_offset:
        num = df["conv_id"].str.slice(5).astype(np.int64) + conv_offset
        df["conv_id"] = "conv_" + num.astype(str).str.zfill(8)
    # parquet microsecond timestamps (Spark rejects nanosecond INT64)
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def doc_ids(df: pd.DataFrame) -> np.ndarray:
    """The engine's (conv, turn) -> int64 docid packing (datagen.with_docid)."""
    conv = df["conv_id"].str.slice(5).astype(np.int64).to_numpy()
    return (conv << TURN_BITS) + df["turn_idx"].to_numpy(np.int64)


def hour_file(
    rng: np.random.Generator,
    live: pd.DataFrame,
    hour: int,
    n_updates: int,
    n_new_conv: int,
    conv_offset: int,
    vocab: int,
) -> pd.DataFrame:
    """One hour of arrivals: re-emitted turns of earlier conversations with
    new text (latest-wins updates that shadow live docs) plus brand-new
    conversations in a fresh docid range. All ts fall inside the hour."""
    seed = int(rng.integers(1 << 31))
    fresh = corpus(seed, n_new_conv + n_updates // 8 + 1, vocab, conv_offset)
    new = fresh[fresh["conv_id"] < f"conv_{conv_offset + n_new_conv:08d}"]
    pool = fresh[fresh["conv_id"] >= f"conv_{conv_offset + n_new_conv:08d}"]
    # updates land on the most recently started conversations (the active
    # ones), so they shadow docs in the newest docid chunks only
    conv = live["conv_id"].str.slice(5).astype(np.int64)
    active = live[conv >= np.quantile(conv, 1.0 - ACTIVE_SHARE)]
    picked = active.iloc[rng.choice(len(active), size=n_updates, replace=False)]
    texts = pool["text"].to_numpy()
    upd = picked[["conv_id", "turn_idx", "role", "tool"]].copy()
    upd["text"] = texts[rng.integers(0, len(texts), size=n_updates)]
    hour_start = BASE_START + BASE_DAYS * DAY + pd.Timedelta(hours=hour)
    out = pd.concat([upd, new[upd.columns]], ignore_index=True)
    out["ts"] = (
        hour_start + pd.to_timedelta(rng.integers(0, 3600, size=len(out)), unit="s")
    ).astype("datetime64[us]")
    return out[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]


def write_parquet(df: pd.DataFrame, path: str) -> None:
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def text_bytes(texts: pd.Series) -> int:
    arr = pa.array(texts.to_numpy(dtype=object), type=pa.string())
    return int(pc.sum(pc.binary_length(arr)).as_py() or 0)


def term_table(texts: pd.Series) -> pd.DataFrame:
    """(term, df) of every token in the texts, df descending: the corpus
    dictionary the query generators sample from."""
    arr = pa.array(texts.to_numpy(dtype=object), type=pa.string())
    toks = pc.utf8_split_whitespace(arr)
    # document frequency: distinct tokens per doc, then count
    pairs = pd.DataFrame({
        "doc": np.repeat(np.arange(len(arr)), pc.list_value_length(toks).fill_null(0).to_numpy()),
        "term": pc.list_flatten(toks).to_numpy(zero_copy_only=False),
    }).drop_duplicates()
    tab = pairs["term"].value_counts().rename_axis("term").reset_index(name="df")
    tab = tab[tab["term"].str.startswith("tok")]
    return tab.sort_values(["df", "term"], ascending=[False, True], ignore_index=True)


def _term_counts(n: int) -> list[int]:
    """1, 2, 3, 4, 1, 2, ...: every length equally often, so the query mix
    does not vary with the seed (only the terms do)."""
    return [1 + i % 4 for i in range(n)]


@lru_cache(maxsize=4)
def _zipf_cdf(vocab: int) -> np.ndarray:
    """CDF of the generator's term ranks: ``min(zipf(ZIPF_A) - 1, vocab - 1)``.
    zeta(ZIPF_A) by Euler-Maclaurin past the vocabulary."""
    k = np.arange(1, vocab, dtype=np.float64)
    head = np.cumsum(k ** -ZIPF_A)
    n = float(vocab)
    zeta = head[-1] + n ** (1 - ZIPF_A) / (ZIPF_A - 1) + n ** -ZIPF_A / 2 \
        + ZIPF_A * n ** (-ZIPF_A - 1) / 12
    return np.append(head / zeta, 1.0)  # the last rank takes the clipped tail


def zipf_ranks(rng: np.random.Generator, n: int, vocab: int) -> np.ndarray:
    """n term ranks from the generator's Zipf law, stratified: one uniform
    draw in each of n equal slices of [0, 1), shuffled. Every seed then gets
    nearly the same share of head terms, which keeps the cost of a query
    batch from swinging with the seed."""
    u = (np.arange(n) + rng.random(n)) / n
    return rng.permutation(np.searchsorted(_zipf_cdf(vocab), u))


def zipf_queries(rng: np.random.Generator, n: int, vocab: int) -> list[str]:
    """Queries whose 1-4 terms follow the corpus's own Zipf law, so head
    terms appear at their natural rate."""
    counts = _term_counts(n)
    ranks = zipf_ranks(rng, sum(counts), vocab)
    bounds = np.cumsum([0, *counts])
    return [" ".join(f"tok{r:05d}" for r in ranks[a:b]) for a, b in zip(bounds, bounds[1:])]


class TailDealer:
    """Queries of 1-4 terms dealt from a shuffled tail vocabulary without
    replacement (reshuffled once it runs out): no tail term repeats before
    the whole vocabulary has been dealt."""

    def __init__(self, rng: np.random.Generator, tail_terms: np.ndarray):
        self._rng = rng
        self._terms = tail_terms
        self._deck: list[str] = []

    def _deal(self, k: int) -> list[str]:
        if len(self._deck) < k:
            self._deck = list(self._rng.permutation(self._terms)) + self._deck
        return [self._deck.pop() for _ in range(k)]

    def queries(self, n: int) -> list[str]:
        return [" ".join(self._deal(k)) for k in _term_counts(n)]
