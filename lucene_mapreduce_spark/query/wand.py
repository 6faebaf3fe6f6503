"""Low-latency top-k serving: exact vectorized BM25 over segment files.

The distributed path (segments.bm25_index_topk) is for query *batches*; this
path answers a single query in milliseconds by reading only the needed
posting rows straight from parquet (pyarrow dataset, phash directory pruning
+ term dictionary filter) and scoring the decoded arrays with numpy. No
reference-code lineage: the reference's analogue is top-1 exact key probing
(XdiReportReducer.java:355-371); this generalizes it to scored top-k.

Exactness: every candidate doc is scored by a per-term scatter-add of
idf*tfn in ascending-term order — over the union of the terms' postings
(:meth:`IndexSearcher._accumulate`) or over a fixed candidate array for
parsed queries (:func:`_score_candidates`) — the same canonical float64
order as every other path, and cut to the top-k by (score desc, doc_id
asc) in :func:`_topk`, so the top-k set AND scores match the oracle
exactly.

Block-max pruning lives in the ``chunkmax`` cold mode
(:meth:`IndexSearcher.search_chunkmax`, after Ding & Suel 2011, "Faster
top-k document retrieval using block-max indexes"): chunk upper bounds come
from payload headers, so whole chunks are skipped before any varbyte decode,
and the surviving chunks are rescored exactly through the same helpers.

Serving at 10^12 docs: one query touches only its terms' (term, chunk) rows
inside the pruned phash directories — IO proportional to posting-list
length, never corpus size. A fleet of servers would shard by phash exactly
as the reference sharded reducers by partition count.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow.dataset as ds

import pyarrow as pa

from lucene_mapreduce_spark.functions.tokenize import tokenize_string
from lucene_mapreduce_spark.index.codec import decode_postings_many, read_payload_meta
from lucene_mapreduce_spark.index.manifest import Manifest, load_manifest, segment_dir
from lucene_mapreduce_spark.query.bm25 import B, K1, bm25_idf

from lucene_mapreduce_spark.functions.hashing import term_phash, xxhash64  # noqa: F401  (re-exported; parity tested vs Spark)

_PREFETCH_WORKERS = 8  # cold-query term prefetch pool width
_POOL: ThreadPoolExecutor | None = None


def _pool() -> ThreadPoolExecutor:
    """Process-wide worker pool for serving-side cold-path parallelism
    (term prefetch, per-term searchsorted, live-map warm). Shared across
    searchers — one 8-thread pool per process, not per IndexSearcher, so
    test suites that open hundreds of searchers don't accumulate threads.
    Tasks are pure reads over immutable per-searcher state."""
    global _POOL
    if _POOL is None:
        _POOL = ThreadPoolExecutor(max_workers=_PREFETCH_WORKERS)
    return _POOL


def _binary_views(col: "pa.ChunkedArray"):
    """Zero-copy (data, starts, ends) view of an Arrow binary column: the
    payloads stay in Arrow's value buffer; only the offsets are materialized.
    Replaces to_pylist(), which copied every ~50 KB payload into a Python
    bytes object on the cold-query path."""
    arr = col.combine_chunks()
    if len(arr) == 0:
        z = np.zeros(0, np.int64)
        return np.zeros(0, np.uint8), z, z
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    off = np.frombuffer(arr.buffers()[1], dtype=odt)
    off = off[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], np.uint8)
    return data, off[:-1], off[1:]


def _lev_banded(terms: np.ndarray, lens: np.ndarray, word: str) -> np.ndarray:
    """Levenshtein distance from `word` to EVERY term of a numpy unicode
    array at once: Wagner-Fischer with the term axis vectorized — the DP
    runs max_len * len(word) elementwise numpy steps over all terms
    simultaneously (numpy's fixed-width UCS4 storage gives the padded
    codepoint matrix via a view, no per-term Python). Exact for all
    lengths; callers band by length first so the matrix stays narrow."""
    n = len(word)
    N = len(terms)
    out = np.empty(N, np.int64)
    out[lens == 0] = n
    M = int(lens.max()) if N else 0
    if M == 0:
        return out
    w = np.frombuffer(word.encode("utf-32-le"), np.uint32)
    enc = np.ascontiguousarray(terms.astype(f"U{M}")).view(np.uint32).reshape(N, M)
    prev = np.tile(np.arange(n + 1, dtype=np.int64), (N, 1))
    nxt = np.empty_like(prev)
    for j in range(1, M + 1):
        nxt[:, 0] = j
        cj = enc[:, j - 1]
        for i in range(1, n + 1):
            sub = prev[:, i - 1] + (cj != w[i - 1])
            nxt[:, i] = np.minimum(
                np.minimum(prev[:, i], nxt[:, i - 1]) + 1, sub
            )
        done = lens == j
        if done.any():
            out[done] = nxt[done, n]
        prev, nxt = nxt, prev
    return out


def _topk(docids: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Exact top-k [(doc_id, score)] by (score desc, doc_id asc). The
    partition keeps every row tied-or-above the k-th score, so the doc_id
    tie-break stays exact while only that subset is sorted."""
    if len(scores) > k:
        kth = -np.partition(-scores, k - 1)[k - 1]
        keep = scores >= kth
        docids, scores = docids[keep], scores[keep]
    order = np.lexsort((docids, -scores))[:k]
    return [(int(docids[i]), float(scores[i])) for i in order]


def _score_candidates(cand: np.ndarray, parts) -> np.ndarray:
    """Scores of a fixed candidate docid array: for each (docids,
    contribs) part, in the given (ascending-term) order, add the part's
    contribution to every candidate it contains. Candidates no part
    contains score 0.0."""
    scores = np.zeros(len(cand), np.float64)
    for docids, contribs in parts:
        idx = np.minimum(np.searchsorted(docids, cand), max(len(docids) - 1, 0))
        hit = docids[idx] == cand
        scores[hit] += contribs[idx[hit]]
    return scores


class IndexSearcher:
    """Loads manifest + stats once; answers exact top-k queries from the
    decoded posting arrays.

    Serves merged AND multi-generation (unmerged) indexes: between merges —
    most of the time in an hourly incremental pipeline — postings are read
    from every generation newest-first and shadowed (updated) docs masked
    by a latest-wins live map, the way the reference's reducer walks its
    searcher array across up to 6 index generations
    (XdiReportReducer.java:248-285, 348-373). The live map here is decoded
    from the segments' doclen pseudo rows at open; a petabyte-scale
    deployment would maintain per-segment livedoc bitmaps + merged stats in
    the manifest instead (Lucene's .liv analogue) — and serve mostly-merged
    indexes anyway.
    """

    def __init__(self, index_dir: str, as_of: int | None = None):
        """``as_of`` pins the searcher to a point-in-time commit (segments
        with max_seq <= as_of) — Lucene's DirectoryReader.open(IndexCommit),
        the same contract as query.segments.pit_manifest."""
        self.index_dir = index_dir
        m = load_manifest(index_dir)
        assert m is not None, f"no index at {index_dir}"
        if as_of is not None:
            from lucene_mapreduce_spark.query.segments import pit_manifest

            m = pit_manifest(index_dir, as_of, m)
        self.manifest: Manifest = m
        segs = m.ordered()
        self._seg_seqs = [s.min_seq for s in segs]
        self._datasets = [
            ds.dataset(
                os.path.join(segment_dir(index_dir, s.segment_id), "postings"),
                format="parquet",
                partitioning="hive",
            )
            for s in segs
        ]
        if len(segs) == 1:
            seg = segs[0]
            self.n_docs = seg.n_docs
            self.avgdl = seg.total_tokens / seg.n_docs if seg.n_docs else 0.0
            self._live_doc = self._live_seg = None
        else:
            self._load_live_map(m)
        self._cache: dict[str, object] = {}
        self._cache_cap = 4096
        self._scored_cache: dict[tuple, tuple] = {}
        self._pos_datasets: list | None = None
        self._field_datasets: list | None = None
        self._field_cache: dict[tuple[str, str], np.ndarray] = {}
        self._dict_arrays: tuple | None = None
        # Warm every posting fragment's footer (row-group stats) at open
        # time, like Lucene reading its term-dictionary/skip metadata when a
        # segment is opened: the first probe of a term then reads only its
        # own row groups instead of paying dataset discovery + footer IO on
        # the query path (the recorded cold-max spike, BENCH.md round 4).
        # Cost is one small read per file at open; serving opens once.
        for d in self._datasets:
            for frag in d.get_fragments():
                frag.ensure_complete_metadata()
        # Build the live-doc domain (DL pseudo-term decode + sort, the
        # head-term scoring base) CONCURRENTLY at open instead of inline in
        # the first head-term query — serving opens once, and the first
        # cold query was paying this ~0.2 s on the query path.
        self._all_docs_future = (
            _pool().submit(self._compute_all_docs)
            if self._live_doc is None
            else None
        )

    def _load_live_map(self, m: Manifest) -> None:
        """Latest-wins doc -> generation map + exact live corpus stats,
        decoded from each generation's doclen pseudo rows (newest first,
        first occurrence wins)."""
        doc_parts, dl_parts, seq_parts = [], [], []
        for seg_seq, dataset in sorted(
            zip(self._seg_seqs, self._datasets), key=lambda x: -x[0]
        ):
            tbl = dataset.to_table(
                filter=ds.field("phash") == m.num_partitions, columns=["payload"]
            )
            data, bs, be = _binary_views(tbl["payload"])
            d, _tf, dl = decode_postings_many(data, bs, be)
            if len(d):
                doc_parts.append(d)
                dl_parts.append(dl.astype(np.int64))
                seq_parts.append(np.full(len(d), seg_seq, np.int64))
        docs = np.concatenate(doc_parts) if doc_parts else np.zeros(0, np.int64)
        dls = np.concatenate(dl_parts) if dl_parts else np.zeros(0, np.int64)
        seqs = np.concatenate(seq_parts) if seq_parts else np.zeros(0, np.int64)
        # newest-first stable: first occurrence of a doc is its live copy
        order = np.argsort(-seqs, kind="stable")
        docs, dls, seqs = docs[order], dls[order], seqs[order]
        uniq, first = np.unique(docs, return_index=True)
        self._live_doc = uniq
        self._live_seg = seqs[first]
        # no doc in >1 generation => the liveness filter never drops a
        # posting and header df counts are exact (chunkmax relies on this)
        self._shadowed = len(docs) != len(uniq)
        self.n_docs = int(len(uniq))
        self.avgdl = float(dls[first].sum()) / self.n_docs if self.n_docs else 0.0

    def _all_live_docs(self) -> np.ndarray:
        """Sorted docids of every live doc, decoded once from the DL_TERM
        pseudo rows (multi-generation searchers already hold this as the
        latest-wins live map) and cached for the searcher's lifetime."""
        if self._live_doc is not None:
            return self._live_doc
        cached = getattr(self, "_all_docs_cache", None)
        if cached is None:
            fut = getattr(self, "_all_docs_future", None)
            if fut is not None:
                self._all_docs_future = None
                cached = fut.result()
            else:
                cached = self._compute_all_docs()
            self._all_docs_cache = cached
        return cached

    def _compute_all_docs(self) -> np.ndarray:
        parts = []
        for dataset in self._datasets:
            tbl = dataset.to_table(
                filter=ds.field("phash") == self.manifest.num_partitions,
                columns=["payload"],
            )
            data, bs, be = _binary_views(tbl["payload"])
            d, _tf, _dl = decode_postings_many(data, bs, be)
            if len(d):
                parts.append(d)
        return np.sort(np.concatenate(parts)) if parts else np.zeros(0, np.int64)

    def _read_term(self, term: str):
        """All (chunk-ordered) posting rows of one term -> concatenated
        arrays + precomputed contributions, LRU-cached (hot query terms stay
        resident, like Lucene's term/posting caches)."""
        if term in self._cache:
            got = self._cache.pop(term)
            self._cache[term] = got  # re-insert: eviction pops the oldest
            return got
        got = self._load_term_cold(term)
        self._cache_put(term, got)
        return got

    def _load_term_cold(self, term: str):
        """Full cold load of one term: parquet read + varbyte decode + idf +
        per-posting BM25 contributions. Read-only over the immutable dataset
        handles and numpy buffers, so it is safe to run concurrently from
        the prefetch pool (pyarrow IO and the vectorized decode/contrib math
        all release the GIL)."""
        got = self._read_term_cold(term)
        if got is None:
            return None
        docids, tfs, dls = got
        idf = bm25_idf(len(docids), self.n_docs)
        return (docids, tfs, dls, self._contrib(idf, tfs, dls), idf)

    def _cache_put(self, term: str, got) -> None:
        if len(self._cache) >= self._cache_cap:
            self._cache.pop(next(iter(self._cache)))
        self._cache[term] = got

    def clear_caches(self) -> None:
        """Empty the posting cache and the scored term-set cache, so the
        next query reads and scores cold."""
        self._cache.clear()
        self._scored_cache.clear()

    def prefetch_terms(self, terms) -> None:
        """Warm the posting cache for every uncached term CONCURRENTLY —
        Lucene's analogue is the per-segment TermsEnum seek + postings read
        being IO-parallel across query terms. A cold multi-term query was
        previously len(terms) sequential (read + decode) legs; the pool
        overlaps them (cache insertion stays in the caller's thread, so the
        LRU dict is never mutated concurrently)."""
        missing = [t for t in dict.fromkeys(terms) if t not in self._cache]
        if not missing:
            return
        if len(missing) == 1:
            self._read_term(missing[0])
            return
        for t, got in zip(missing, _pool().map(self._load_term_cold, missing)):
            self._cache_put(t, got)

    def _read_term_cold(self, term: str):
        p = term_phash(term, self.manifest.num_partitions)
        doc_parts, tf_parts, dl_parts = [], [], []
        for seg_seq, dataset in zip(self._seg_seqs, self._datasets):
            tbl = dataset.to_table(
                filter=(ds.field("phash") == p) & (ds.field("term") == term),
                columns=["chunk", "payload"],
            )
            if tbl.num_rows == 0:
                continue
            # Batch decode: ALL of the term's chunk payloads in one set of
            # vectorized passes (one flatnonzero, one width loop, one
            # segmented cumsum) straight off the zero-copy Arrow value
            # buffer. This replaced a per-payload decode loop whose fixed
            # per-call costs dominated cold queries (774 decode calls =
            # 0.77 s of a 1.05 s cold 5-head-term query). Liveness is still
            # ONE searchsorted per segment over the chunk-ordered (hence
            # docid-sorted) concatenation.
            order = np.argsort(tbl["chunk"].to_numpy())
            data, bs, be = _binary_views(tbl["payload"])
            d, tf, dl = decode_postings_many(data, bs[order], be[order])
            if not len(d):
                continue
            if self._live_doc is not None:
                # keep a posting only if this generation holds the doc's
                # live (newest) copy
                idx = np.searchsorted(self._live_doc, d)
                live = self._live_seg[idx] == seg_seq
                if not live.all():
                    d, tf, dl = d[live], tf[live], dl[live]
                    if not len(d):
                        continue
            doc_parts.append(d)
            tf_parts.append(tf)
            dl_parts.append(dl)
        if not doc_parts:
            return None
        docids = np.concatenate(doc_parts) if len(doc_parts) > 1 else doc_parts[0]
        tfs = np.concatenate(tf_parts) if len(tf_parts) > 1 else tf_parts[0]
        dls = np.concatenate(dl_parts) if len(dl_parts) > 1 else dl_parts[0]
        if len(self._datasets) > 1:
            order = np.argsort(docids, kind="mergesort")
            docids, tfs, dls = docids[order], tfs[order], dls[order]
        return docids, tfs, dls

    def _contrib(self, idf: float, tf, dl):
        return idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / self.avgdl))

    def search_boolean(self, query_text: str, mode: str = "and") -> np.ndarray:
        """Exact boolean retrieval over the posting lists: docids containing
        ALL query terms ("and") or ANY ("or"), sorted ascending. This is the
        reference QueryParser's conjunctive/disjunctive surface
        (XdiReportReducer.java:356) answered from the same decoded posting
        arrays search() scores — set intersection/union over sorted docid
        arrays."""
        terms = sorted(set(tokenize_string(query_text)))
        self.prefetch_terms(terms)
        lists = []
        for t in terms:
            got = self._read_term(t)
            if got is None:
                if mode == "and":
                    return np.zeros(0, np.int64)
                continue
            lists.append(got[0])
        if not lists:
            return np.zeros(0, np.int64)
        out = lists[0]
        for arr in lists[1:]:
            out = np.intersect1d(out, arr) if mode == "and" else np.union1d(out, arr)
        return out.astype(np.int64)

    def search_and_not(self, include_text: str, exclude_text: str) -> np.ndarray:
        """Conjunctive retrieval with exclusion: docids containing ALL of
        include_text's terms and NONE of exclude_text's — Lucene's
        MUST/MUST_NOT clause pair, answered as sorted-array set difference
        over the same decoded postings (prohibited lists are only ever read
        for the candidate range, never scored)."""
        inc = self.search_boolean(include_text, mode="and")
        if not len(inc):
            return inc
        exc = self.search_boolean(exclude_text, mode="or")
        return np.setdiff1d(inc, exc, assume_unique=True).astype(np.int64)

    def _load_stored(
        self, docids: np.ndarray, cols: list[str]
    ) -> dict[int, tuple]:
        """Stored-field values (any subset of docstore columns) for the
        given docids, newest generation wins. Requires store_fields=True
        segments (docstore sidecars — doc_id range-sorted parquet, so the
        isin filter prunes row groups)."""
        want = set(int(d) for d in docids)
        out: dict[int, tuple] = {}
        segs = sorted(self.manifest.ordered(), key=lambda s: -s.min_seq)
        assert all(s.has_docstore for s in segs), (
            "stored-field access needs store_fields=True segments"
        )
        for s in segs:
            if not want:
                break
            store = ds.dataset(
                os.path.join(
                    segment_dir(self.index_dir, s.segment_id), "docstore"
                ),
                format="parquet",
            )
            tbl = store.to_table(
                filter=ds.field("doc_id").isin(list(want)),
                columns=["doc_id", *cols],
            )
            vals = [tbl[c].to_pylist() for c in cols]
            for i, d in enumerate(tbl["doc_id"].to_pylist()):
                if d in want:
                    out[d] = tuple(v[i] for v in vals)
                    want.discard(d)
        return out

    def _load_texts(self, docids: np.ndarray) -> dict[int, str]:
        """Stored text for the given docids, newest generation wins."""
        return {
            d: v[0] for d, v in self._load_stored(docids, ["text"]).items()
        }

    def positions_available(self) -> bool:
        """True iff every generation carries the positional sidecar."""
        return all(s.has_positions for s in self.manifest.ordered())

    def _load_positions(
        self, docids: np.ndarray, terms: list[str]
    ) -> dict[tuple[int, str], np.ndarray]:
        """Ascending token positions for each (candidate doc, query term)
        from the positional sidecar, newest (live) generation wins —
        Lucene's .pos read path. Reads only the terms' phash dirs, with
        term + doc_id filters pruning row groups (rows are sorted
        (term, chunk, doc_id) on disk)."""
        if self._pos_datasets is None:
            self._pos_datasets = [
                ds.dataset(
                    os.path.join(
                        segment_dir(self.index_dir, s.segment_id), "positions"
                    ),
                    format="parquet",
                    partitioning="hive",
                )
                for s in self.manifest.ordered()
            ]
        want = [int(d) for d in docids]
        phashes = sorted(
            {term_phash(t, self.manifest.num_partitions) for t in terms}
        )
        out: dict[tuple[int, str], np.ndarray] = {}
        for seg_seq, dataset in zip(self._seg_seqs, self._pos_datasets):
            tbl = dataset.to_table(
                filter=(
                    ds.field("phash").isin(phashes)
                    & ds.field("term").isin(list(terms))
                    & ds.field("doc_id").isin(want)
                ),
                columns=["term", "doc_id", "positions"],
            )
            for t, d, ps in zip(
                tbl["term"].to_pylist(),
                tbl["doc_id"].to_pylist(),
                tbl["positions"].to_pylist(),
            ):
                if self._live_doc is not None:
                    idx = int(np.searchsorted(self._live_doc, d))
                    if (
                        idx >= len(self._live_doc)
                        or self._live_doc[idx] != d
                        or self._live_seg[idx] != seg_seq
                    ):
                        continue
                out[(int(d), t)] = np.asarray(ps, np.int64)
        return out

    def _verify_phrase_positions(
        self, cand: np.ndarray, phrase: list[str]
    ) -> np.ndarray:
        """Adjacency check from positions: successively intersect each
        term's positions with the previous survivors shifted by one —
        survivors after the last term are phrase-start positions."""
        posmap = self._load_positions(cand, sorted(set(phrase)))
        hits = []
        for d in cand:
            cur = posmap.get((int(d), phrase[0]))
            if cur is None:
                continue
            for t in phrase[1:]:
                nxt = posmap.get((int(d), t))
                if nxt is None:
                    cur = None
                    break
                cur = cur[np.isin(cur + 1, nxt)]
                if not len(cur):
                    cur = None
                    break
                cur = cur + 1  # advance to the matched position
            if cur is not None and len(cur):
                hits.append(int(d))
        return np.asarray(sorted(hits), np.int64)

    def search_phrase(self, phrase_text: str, use: str = "auto") -> np.ndarray:
        """Exact phrase retrieval: docids whose token stream contains the
        query tokens as a contiguous subsequence, sorted ascending.

        Two-stage: the posting lists AND-intersect to a candidate set
        (cheap, index-only), then adjacency is verified from the
        positional sidecar when every generation has one (Lucene's .pos
        strategy; ``use="positions"`` to require it) or by re-tokenizing
        the candidates' stored fields (Lucene-without-positions;
        ``use="stored"``). Either way IO is proportional to the
        conjunctive result size, never the corpus."""
        phrase = tokenize_string(phrase_text)
        if not phrase:
            return np.zeros(0, np.int64)
        cand = self.search_boolean(phrase_text, mode="and")
        if not len(cand):
            return cand
        if use == "positions" or (use == "auto" and self.positions_available()):
            return self._verify_phrase_positions(cand, phrase)
        texts = self._load_texts(cand)
        k = len(phrase)
        hits = []
        for d in cand:
            toks = tokenize_string(texts.get(int(d), ""))
            if any(
                toks[i: i + k] == phrase for i in range(len(toks) - k + 1)
            ):
                hits.append(int(d))
        return np.asarray(sorted(hits), np.int64)

    def search_parsed(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        """Lucene-QueryParser surface: `+must -not "a phrase" should` — see
        query/parse.py for the exact grammar/semantics. Returns exact top-k
        [(doc_id, score)] by (score desc, doc_id asc); scores are BM25 over
        the SHOULD+MUST terms with corpus-global stats, candidates filtered
        by the MUST/phrase/MUST_NOT clauses through the same postings."""
        from lucene_mapreduce_spark.query.parse import parse_query

        must, must_not, phrases, should = parse_query(query)
        cand: np.ndarray | None = None
        if must:
            cand = self.search_boolean(" ".join(must), mode="and")
            if not len(cand):
                return []
        for ph in phrases:
            hits = self.search_phrase(" ".join(ph))
            cand = hits if cand is None else np.intersect1d(cand, hits)
            if not len(cand):
                return []
        scoring = sorted(set(must) | set(should))
        self.prefetch_terms(scoring)
        if cand is None:
            if not scoring:
                return []
            cand = self.search_boolean(" ".join(scoring), mode="or")
        if must_not and len(cand):
            exc = self.search_boolean(" ".join(must_not), mode="or")
            cand = np.setdiff1d(cand, exc, assume_unique=True)
        if not len(cand):
            return []
        # ascending term order: the same accumulation as search()
        parts = [
            (got[0], got[3])
            for got in map(self._read_term, scoring)
            if got is not None
        ]
        return _topk(cand, _score_candidates(cand, parts), k)

    def indexed_fields(self) -> set[str]:
        """Keyword fields indexed in EVERY generation (usable as posting
        lists); others fall back to stored-field verification."""
        segs = self.manifest.ordered()
        if not segs:
            return set()
        return set.intersection(*(set(s.indexed_fields) for s in segs))

    def _field_hits(self, fld: str, value: str) -> np.ndarray:
        """Sorted live docids whose indexed keyword field equals `value` —
        a keyword posting list read from the fields sidecar (field
        directory pruning + value row-group pushdown), latest-wins across
        generations, cached like term postings."""
        key = (fld, value)
        hit = self._field_cache.get(key)
        if hit is not None:
            return hit
        if self._field_datasets is None:
            self._field_datasets = [
                ds.dataset(
                    os.path.join(
                        segment_dir(self.index_dir, s.segment_id), "fields"
                    ),
                    format="parquet",
                    partitioning="hive",
                )
                for s in self.manifest.ordered()
            ]
        parts = []
        for seg_seq, dataset in zip(self._seg_seqs, self._field_datasets):
            tbl = dataset.to_table(
                filter=(ds.field("field") == fld) & (ds.field("value") == value),
                columns=["doc_id"],
            )
            d = tbl["doc_id"].to_numpy().astype(np.int64)
            if self._live_doc is not None and len(d):
                idx = np.searchsorted(self._live_doc, d)
                idx_c = np.minimum(idx, max(len(self._live_doc) - 1, 0))
                keep = (self._live_doc[idx_c] == d) & (
                    self._live_seg[idx_c] == seg_seq
                )
                d = d[keep]
            parts.append(d)
        out = np.sort(np.concatenate(parts)) if parts else np.zeros(0, np.int64)
        if len(self._field_cache) >= 1024:
            self._field_cache.pop(next(iter(self._field_cache)))
        self._field_cache[key] = out
        return out

    def _field_range_hits(
        self, fld: str, lo: float | None, hi: float | None
    ) -> np.ndarray:
        """Sorted live docids whose indexed field's numeric value lies in
        [lo, hi] (inclusive; None = open end) — Lucene PointRangeQuery
        over the fields sidecar's num_value column (row-group stats prune
        because numeric fields are num-sorted on disk)."""
        if self._field_datasets is None:
            self._field_datasets = [
                ds.dataset(
                    os.path.join(
                        segment_dir(self.index_dir, s.segment_id), "fields"
                    ),
                    format="parquet",
                    partitioning="hive",
                )
                for s in self.manifest.ordered()
            ]
        flt = ds.field("field") == fld
        if lo is not None:
            flt = flt & (ds.field("num_value") >= lo)
        if hi is not None:
            flt = flt & (ds.field("num_value") <= hi)
        parts = []
        for seg_seq, dataset in zip(self._seg_seqs, self._field_datasets):
            d = dataset.to_table(filter=flt, columns=["doc_id"])["doc_id"]
            d = d.to_numpy().astype(np.int64)
            if self._live_doc is not None and len(d):
                idx = np.searchsorted(self._live_doc, d)
                idx_c = np.minimum(idx, max(len(self._live_doc) - 1, 0))
                keep = (self._live_doc[idx_c] == d) & (
                    self._live_seg[idx_c] == seg_seq
                )
                d = d[keep]
            parts.append(d)
        return np.sort(np.concatenate(parts)) if parts else np.zeros(0, np.int64)

    def search_phrase_slop(
        self, phrase_text: str, slop: int, use: str = "auto"
    ) -> np.ndarray:
        """Sloppy phrase (`"a b"~N`): the phrase terms IN ORDER with at
        most `slop` extra tokens interleaved in total (ordered SpanNear —
        a documented simplification of Lucene's transposition-counting
        slop; slop 0 degenerates to the exact phrase). Verification is
        greedy per start position — chaining each term to its nearest
        following occurrence minimizes the span, so existence under the
        slop budget is exact."""
        phrase = tokenize_string(phrase_text)
        if not phrase:
            return np.zeros(0, np.int64)
        if slop <= 0 or len(phrase) == 1:
            return self.search_phrase(phrase_text, use=use)
        cand = self.search_boolean(phrase_text, mode="and")
        if not len(cand):
            return cand
        budget = slop + len(phrase) - 1  # max allowed (p_k - p_1)
        if use == "positions" or (use == "auto" and self.positions_available()):
            posmap = self._load_positions(cand, sorted(set(phrase)))

            def _pos(d: int, t: str):
                return posmap.get((int(d), t))

        else:
            texts = self._load_texts(cand)
            tok_cache = {
                int(d): tokenize_string(texts.get(int(d), "")) for d in cand
            }

            def _pos(d: int, t: str):
                toks = tok_cache[int(d)]
                p = np.asarray(
                    [i for i, x in enumerate(toks) if x == t], np.int64
                )
                return p if len(p) else None

        hits = []
        for d in cand:
            starts = _pos(d, phrase[0])
            if starts is None:
                continue
            last = starts.copy()
            keep_starts = starts
            ok = True
            for t in phrase[1:]:
                nxt = _pos(d, t)
                if nxt is None:
                    ok = False
                    break
                idx = np.searchsorted(nxt, last, side="right")
                valid = idx < len(nxt)
                if not valid.any():
                    ok = False
                    break
                keep_starts = keep_starts[valid]
                last = nxt[idx[valid]]
            if ok and len(last) and ((last - keep_starts) <= budget).any():
                hits.append(int(d))
        return np.asarray(sorted(hits), np.int64)

    def search_parsed_ext(
        self, query: str, k: int = 10, min_should_match: int = 0
    ) -> list[tuple[int, float]]:
        """Extended QueryParser surface (query/parse.parse_query_ext):
        everything search_parsed does, plus per-term boosts (``term^2.5``
        scale that term's BM25 contribution), keyword-field clauses
        (``lang:en`` / ``-source:src3`` filter candidates against stored
        fields — Lucene TermQuery on an untokenized field), and Lucene
        BooleanQuery's minimum_should_match (candidates must match at
        least N SHOULD terms). Field clauses require at least one term or
        phrase clause to bound the candidate set (a pure-field query
        would need a field index, which this engine stores as columns,
        not postings — use the Spark batch path for those)."""
        from lucene_mapreduce_spark.query.parse import parse_query_ext

        spec = parse_query_ext(query)
        idx_flds = self.indexed_fields()
        fm_idx = [(f, v) for f, v in spec["field_must"] if f in idx_flds]
        fm_doc = [(f, v) for f, v in spec["field_must"] if f not in idx_flds]
        fmn_idx = [(f, v) for f, v in spec["field_must_not"] if f in idx_flds]
        fmn_doc = [(f, v) for f, v in spec["field_must_not"] if f not in idx_flds]
        cand: np.ndarray | None = None
        if spec["must"]:
            cand = self.search_boolean(" ".join(spec["must"]), mode="and")
            if not len(cand):
                return []
        for ph in spec["phrases"]:
            hits = self.search_phrase(" ".join(ph))
            cand = hits if cand is None else np.intersect1d(cand, hits)
            if not len(cand):
                return []
        for ph, slop in spec.get("sloppy_phrases", []):
            hits = self.search_phrase_slop(" ".join(ph), slop)
            cand = hits if cand is None else np.intersect1d(cand, hits)
            if not len(cand):
                return []
        rm = spec.get("range_must", [])
        rmn = spec.get("range_must_not", [])
        assert all(f in idx_flds for f, _, _ in rm + rmn), (
            "range clauses need the field indexed in every generation"
        )
        # indexed-field MUST clauses intersect like keyword posting lists —
        # a pure field query is answerable when every field is indexed
        for f, v in fm_idx:
            hits = self._field_hits(f, v)
            cand = hits if cand is None else np.intersect1d(cand, hits)
            if not len(cand):
                return []
        for f, lo, hi in rm:
            hits = self._field_range_hits(f, lo, hi)
            cand = hits if cand is None else np.intersect1d(cand, hits)
            if not len(cand):
                return []
        scoring = sorted(set(spec["must"]) | set(spec["should"]))
        self.prefetch_terms(scoring)
        if cand is None:
            if not scoring:
                assert not (fm_doc or fmn_doc or fmn_idx or rmn), (
                    "field-only queries need an indexed MUST field or a "
                    "term/phrase clause to bound candidates on the serving "
                    "path"
                )
                return []
            cand = self.search_boolean(" ".join(scoring), mode="or")
        if spec["must_not"] and len(cand):
            exc = self.search_boolean(" ".join(spec["must_not"]), mode="or")
            cand = np.setdiff1d(cand, exc, assume_unique=True)
        for f, v in fmn_idx:
            if not len(cand):
                break
            cand = np.setdiff1d(cand, self._field_hits(f, v), assume_unique=True)
        for f, lo, hi in rmn:
            if not len(cand):
                break
            cand = np.setdiff1d(
                cand, self._field_range_hits(f, lo, hi), assume_unique=True
            )
        if (fm_doc or fmn_doc) and len(cand):
            cols = sorted({f for f, _ in fm_doc} | {f for f, _ in fmn_doc})
            stored = self._load_stored(cand, cols)
            keep = []
            for d in cand:
                vals = stored.get(int(d))
                if vals is None:
                    continue
                rec = dict(zip(cols, vals))
                if all(str(rec.get(f)) == v for f, v in fm_doc) and not any(
                    str(rec.get(f)) == v for f, v in fmn_doc
                ):
                    keep.append(int(d))
            cand = np.asarray(keep, np.int64)
        if min_should_match > 0 and len(cand) and spec["should"]:
            # a unit contribution per term => the score is the match count
            ones = [
                (got[0], np.ones(len(got[0])))
                for got in map(self._read_term, spec["should"])
                if got is not None
            ]
            cand = cand[_score_candidates(cand, ones) >= min_should_match]
        if not len(cand):
            return []
        # ascending term order, each contribution scaled by its boost
        parts = [
            (got[0], spec["boosts"].get(t, 1.0) * got[3])
            for t, got in zip(scoring, map(self._read_term, scoring))
            if got is not None
        ]
        return _topk(cand, _score_candidates(cand, parts), k)

    def _verify_near_positions(
        self, cand: np.ndarray, terms: list[str], window: int
    ) -> np.ndarray:
        """Window check from positions: merge the terms' position lists
        (term-labeled), then a two-pointer sweep finds whether any span of
        <= `window` consecutive token slots covers every term. Token
        positions are term-disjoint within a doc, so coverage counting is
        exact."""
        posmap = self._load_positions(cand, terms)
        k = len(terms)
        hits = []
        for d in cand:
            lists = [posmap.get((int(d), t)) for t in terms]
            if any(lst is None for lst in lists):
                continue
            pos = np.concatenate(lists)
            lab = np.concatenate(
                [np.full(len(lst), i, np.int64) for i, lst in enumerate(lists)]
            )
            order = np.argsort(pos, kind="stable")
            pos, lab = pos[order], lab[order]
            count = np.zeros(k, np.int64)
            covered = 0
            i = 0
            found = False
            for j in range(len(pos)):
                if count[lab[j]] == 0:
                    covered += 1
                count[lab[j]] += 1
                while covered == k:
                    if pos[j] - pos[i] <= window - 1:
                        found = True
                        break
                    count[lab[i]] -= 1
                    if count[lab[i]] == 0:
                        covered -= 1
                    i += 1
                if found:
                    break
            if found:
                hits.append(int(d))
        return np.asarray(sorted(hits), np.int64)

    def search_near(
        self, query_text: str, window: int = 4, use: str = "auto"
    ) -> np.ndarray:
        """Proximity retrieval (Lucene SpanNear, unordered): docids where
        some `window`-token span contains ALL query terms. Same two-stage
        strategy as phrases: posting lists AND-intersect to candidates,
        then the positional sidecar (when every generation has one, or
        ``use="positions"``) or the stored fields (``use="stored"``)
        verify the window — IO proportional to the conjunctive result,
        never the corpus."""
        terms = sorted(set(tokenize_string(query_text)))
        if not terms:
            return np.zeros(0, np.int64)
        cand = self.search_boolean(query_text, mode="and")
        if not len(cand):
            return cand
        if use == "positions" or (use == "auto" and self.positions_available()):
            return self._verify_near_positions(cand, terms, window)
        texts = self._load_texts(cand)
        need = set(terms)
        hits = []
        for d in cand:
            toks = tokenize_string(texts.get(int(d), ""))
            if any(
                need <= set(toks[i: i + window])
                for i in range(max(len(toks) - window + 1, 1))
            ):
                hits.append(int(d))
        return np.asarray(sorted(hits), np.int64)

    def search(
        self, query_text: str, k: int = 10, algorithm: str = "auto"
    ) -> list[tuple[int, float]]:
        """Exact top-k [(doc_id, score)] by (score desc, doc_id asc).

        algorithm: "auto" reads each query term's cached decoded postings
        and scores every candidate with vectorized numpy
        (:meth:`_scored`); "chunkmax" is the cold-path mode that prunes
        whole chunks by block-max upper bounds before decoding
        (:meth:`search_chunkmax`). Both are exact and tested rank+score
        identical to the oracle; any other value raises ValueError.
        """
        if algorithm == "chunkmax":
            return self.search_chunkmax(query_text, k)
        if algorithm != "auto":
            raise ValueError(
                f"algorithm must be 'auto' or 'chunkmax', got {algorithm!r}"
            )
        return _topk(*self._scored(query_text), k)

    def _read_term_meta(self, term: str):
        """Header-only term read for the chunkmax cold path: per payload row
        (chunk, buffer view, skip table) + exact df from header counts —
        no varbyte stream is decoded. Read-only over immutable dataset
        handles, safe for the prefetch pool."""
        p = term_phash(term, self.manifest.num_partitions)
        rows = []  # (chunk, data_buf, start, end, skip_table)
        df = 0
        for dataset in self._datasets:
            tbl = dataset.to_table(
                filter=(ds.field("phash") == p) & (ds.field("term") == term),
                columns=["chunk", "payload"],
            )
            if tbl.num_rows == 0:
                continue
            chunks = tbl["chunk"].to_numpy()
            data, bs, be = _binary_views(tbl["payload"])
            counts, skips = read_payload_meta(data, bs, be)
            df += int(counts.sum())
            for i in range(len(chunks)):
                rows.append((int(chunks[i]), data, int(bs[i]), int(be[i]), skips[i]))
        if not rows:
            return None
        return rows, df

    def search_chunkmax(self, query_text: str, k: int = 10) -> list[tuple[int, float]]:
        """Cold-path top-k: block-max candidate ranking over UNDECODED
        payloads, exact chunk-grain rescore — output identical to search()
        (rank AND float64 score; asserted in tests).

        Phase 1 reads each term's payload rows but parses only headers +
        skip tables (codec.read_payload_meta): df (=> exact idf) from the
        header counts, and a per-(term, chunk) upper bound from the block
        (max_tf, min_dl) maxima — the block-max WAND bound, but available
        BEFORE any varbyte decode. Phase 2 visits chunks in descending
        summed-UB order, decoding only the visited chunks' payloads,
        exact-scoring their docs with the canonical ascending-term
        scatter-add, and skips every chunk whose UB is strictly below the
        current kth score (>= must be visited: an equal score can still
        win the doc_id tie-break). Safe pruning at chunk grain => exact
        top-k while only the competitive fraction of postings is decoded —
        the cold-query contract BENCH.md documents (a 5-head-term query
        otherwise decodes ~9M postings before any score is exact).

        Requires that no doc is SHADOWED (present in >1 generation): header
        df would count shadowed postings the liveness filter drops. Merged
        or disjoint-generation indexes qualify (the cold-path serving case);
        otherwise this transparently falls back to exact search().

        Honest measurement: on the UNIFORM synthetic bench corpus block
        maxima are nearly flat and chunk UBs cannot separate (1-17% of
        payloads pruned, measured at 60k conversations); with pool-parallel
        per-term decode the mode still runs at parity with search()'s
        batched cold path there (sf0.1 best-of-3: 0.51s vs 0.52s) —
        bench.py records both (wand_cold_max_s vs wand_cold_chunkmax_max_s).
        On skewed tf distributions — the real-corpus shape — the bounds
        separate, pass 2 shrinks toward empty, and >70% of payload decodes
        are skipped (test_chunkmax_prunes_hard_on_skewed_corpus).
        """
        if getattr(self, "_shadowed", False) or self.n_docs == 0:
            return self.search(query_text, k)
        terms = sorted(set(tokenize_string(query_text)))
        if not terms:
            return []
        metas = list(_pool().map(self._read_term_meta, terms))
        present = [(t, m) for t, m in zip(terms, metas) if m is not None]
        if not present:
            return []
        # per (chunk, term): rows to decode + the term's UB inside the chunk
        per_chunk: dict[int, dict[int, list]] = {}
        ub_chunk_term: dict[int, dict[int, float]] = {}
        idfs = []
        for ti, (term, (rows, df)) in enumerate(present):
            idf = bm25_idf(df, self.n_docs)
            idfs.append(idf)
            for chunk, data, s, e, skip in rows:
                if not len(skip):
                    # empty skip table (count==0 payload): nothing to score
                    # and .max() over zero blocks would raise
                    continue
                mt = skip["max_tf"].astype(np.float64)
                md = skip["min_dl"].astype(np.float64)
                ub = float(
                    (
                        idf
                        * (mt * (K1 + 1.0))
                        / (mt + K1 * (1.0 - B + B * md / self.avgdl))
                    ).max()
                )
                per_chunk.setdefault(chunk, {}).setdefault(ti, []).append(
                    (data, s, e)
                )
                tmap = ub_chunk_term.setdefault(chunk, {})
                # multiple segments: a doc lives in exactly one, so the
                # term's bound inside the chunk is the max, not the sum
                tmap[ti] = max(tmap.get(ti, 0.0), ub)
        order = sorted(
            ((sum(tm.values()), c) for c, tm in ub_chunk_term.items()),
            key=lambda x: (-x[0], x[1]),
        )

        def _score_group(group):
            def _decode_term(ti):
                # batch the group's payloads per underlying Arrow buffer;
                # the varbyte decode releases the GIL, so terms decode
                # concurrently in the pool (like prefetch_terms)
                by_buf: dict[int, list] = {}
                for _ub, chunk in group:
                    for data, s, e in per_chunk[chunk].get(ti, ()):
                        by_buf.setdefault(id(data), [data, [], []])
                        by_buf[id(data)][1].append(s)
                        by_buf[id(data)][2].append(e)
                if not by_buf:
                    return None
                parts = [
                    decode_postings_many(
                        data, np.asarray(ss, np.int64), np.asarray(ee, np.int64)
                    )
                    for data, ss, ee in by_buf.values()
                ]
                d, tf, dl = (
                    parts[0]
                    if len(parts) == 1
                    else (np.concatenate(c) for c in zip(*parts))
                )
                return d, self._contrib(idfs[ti], tf, dl)

            # map preserves order => ascending term
            return self._accumulate(
                [
                    p
                    for p in _pool().map(_decode_term, range(len(present)))
                    if p is not None
                ]
            )

        # Two batched passes so the varbyte decode stays batched
        # (decode_postings_many's fixed costs dominated a per-chunk loop —
        # measured 2-3x slower than exhaustive on uniform corpora):
        # pass 1 scores the top-64 chunks by UB to establish the kth-score
        # threshold; pass 2 scores every remaining chunk whose UB can still
        # reach it (>=: an equal score can still win the doc_id tie-break),
        # in ONE decode batch. Skewed corpora leave pass 2 nearly empty (the
        # win); flat-UB corpora degrade gracefully to ~one batched decode.
        # Chunks are docid ranges, so the two passes score disjoint docs.
        group_sz = 64
        docids, scores = _score_group(order[:group_sz])
        top = _topk(docids, scores, k)
        th = top[-1][1] if len(top) == k else -np.inf
        rest = [(ub, c) for ub, c in order[group_sz:] if ub >= th]
        if not rest:
            return top
        d2, s2 = _score_group(rest)
        keep = s2 >= th
        return _topk(
            np.concatenate([docids, d2[keep]]),
            np.concatenate([scores, s2[keep]]),
            k,
        )

    def _scored(self, query_text: str) -> tuple[np.ndarray, np.ndarray]:
        """(docids, scores) for every doc matching any query term, scored
        exactly by :meth:`_accumulate` over the cached per-term
        contributions. Cached per term-set — the index is immutable, so
        repeat queries are pure cache hits."""
        terms = sorted(set(tokenize_string(query_text)))
        self.prefetch_terms(terms)
        present = [
            (t, got)
            for t, got in zip(terms, map(self._read_term, terms))
            if got is not None
        ]
        if not present or self.n_docs == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.float64)
        key = tuple(t for t, _ in present)
        hit = self._scored_cache.get(key)
        if hit is not None:
            return hit
        out = self._accumulate([(got[0], got[3]) for _, got in present])
        if len(present) > 1:
            if len(self._scored_cache) >= 64:
                self._scored_cache.pop(next(iter(self._scored_cache)))
            self._scored_cache[key] = out
        return out

    def _accumulate(self, parts) -> tuple[np.ndarray, np.ndarray]:
        """(docids, scores) over the union of the parts' docids: each
        (docids, contribs) part — one per term, in ascending term order —
        is scatter-added sequentially, so every doc's score is the
        oracle's ascending-term sum bit for bit (an absent term adds
        nothing; np/pandas grouped sums are NOT used because their
        accumulation order is pairwise). A lone part is returned as is."""
        if len(parts) == 1:
            return parts[0]
        if sum(len(d) for d, _ in parts) * 2 >= self.n_docs:
            # head-term regime: the candidate set approaches the corpus, so
            # scatter-add over the (cached, sorted) full live-doc domain and
            # drop never-hit docs — skips the O(total log total) sort of the
            # concatenated docids, the cold-query bottleneck for dense terms
            base = self._all_live_docs()
        else:
            base = np.unique(np.concatenate([d for d, _ in parts]))
        scores = np.zeros(len(base), np.float64)
        hit = np.zeros(len(base), bool)
        # the searchsorted legs are independent and GIL-releasing — run
        # them in the pool; the adds below stay sequential
        idxs = _pool().map(lambda p: np.searchsorted(base, p[0]), parts)
        for (_d, contribs), idx in zip(parts, idxs):
            scores[idx] += contribs
            hit[idx] = True
        return base[hit], scores[hit]

    def search_after(
        self, query_text: str, after: tuple[float, int], k: int = 10
    ) -> list[tuple[int, float]]:
        """Lucene IndexSearcher.searchAfter parity: the next k results
        STRICTLY after the cursor (score, doc_id) in (score desc, doc_id
        asc) order — deep pagination without re-sending earlier pages.
        The cursor score must be the exact float the previous page
        returned (scores are deterministic — canonical accumulation), so
        the strict-after filter is an exact comparison, like Lucene's
        FieldDoc cursor."""
        uniq, scores = self._scored(query_text)
        s0, d0 = float(after[0]), int(after[1])
        qual = (scores < s0) | ((scores == s0) & (uniq > d0))
        return _topk(uniq[qual], scores[qual], k)

    # ---- suggesters: interactive did-you-mean / completion from the
    # term-sorted dictionary sidecar, loaded once per searcher. The Lucene
    # analogue is the FST terms index answering prefix/fuzzy seeks in
    # microseconds; here the (tiny vs postings) dictionary lives in memory
    # as sorted numpy arrays — completion is a binary-search range seek,
    # spelling is a vectorized banded edit-distance over the length band.
    # Multi-generation note (Lucene docFreq parity): df/cf sum over ALL
    # generations — shadowed (re-indexed) docs still count, exactly like
    # Lucene's docFreq ignoring deletions; the oracle-checked Spark
    # suggesters instead assert a merged index (fulltext._dictionary_stats).

    def _load_dict(self):
        """(terms sorted unicode array, df, cf, lengths) — cached."""
        if self._dict_arrays is not None:
            return self._dict_arrays
        segs = self.manifest.ordered()
        assert all(s.has_dict for s in segs), (
            "suggesters need with_dict=True segments"
        )
        tables = [
            ds.dataset(
                os.path.join(segment_dir(self.index_dir, s.segment_id), "dictionary"),
                format="parquet",
            ).to_table(columns=["term", "df", "cf"])
            for s in segs
        ]
        terms = np.concatenate([t["term"].to_numpy(zero_copy_only=False) for t in tables])
        df = np.concatenate([t["df"].to_numpy() for t in tables]).astype(np.int64)
        cf = np.concatenate([t["cf"].to_numpy() for t in tables]).astype(np.int64)
        terms = terms.astype(str)
        order = np.argsort(terms, kind="stable")
        terms, df, cf = terms[order], df[order], cf[order]
        if len(segs) > 1:
            uniq, start = np.unique(terms, return_index=True)
            df = np.add.reduceat(df, start)
            cf = np.add.reduceat(cf, start)
            terms = uniq
        lens = np.char.str_len(terms)
        self._dict_arrays = (terms, df, cf, lens)
        return self._dict_arrays

    def autocomplete(self, prefix: str, k: int = 5) -> list[tuple[str, int]]:
        """[(term, cf)] completions ranked (cf desc, term asc) — the same
        contract as the Spark-side gate (fulltext.autocomplete), answered
        as a binary-search range seek on the sorted dictionary."""
        terms, _df, cf, _lens = self._load_dict()
        lo = int(np.searchsorted(terms, prefix, side="left"))
        hi = int(np.searchsorted(terms, prefix + "￿", side="left"))
        if lo >= hi:
            return []
        t, c = terms[lo:hi], cf[lo:hi]
        order = np.lexsort((t, -c))[:k]
        return [(str(t[i]), int(c[i])) for i in order]

    def spell_suggest(
        self, word: str, max_dist: int = 2, k: int = 5
    ) -> list[tuple[str, int, int]]:
        """[(term, dist, df)] did-you-mean suggestions ranked (dist asc,
        df desc, term asc) — the Spark gate's ranking (fulltext.
        spell_suggest). Exact: every dictionary term within levenshtein
        max_dist is considered; the length band |len-len(word)| <= max_dist
        prunes before the vectorized DP (a char-level Wagner-Fischer run
        simultaneously over all banded terms in numpy)."""
        terms, df, _cf, lens = self._load_dict()
        n = len(word)
        band = (lens >= n - max_dist) & (lens <= n + max_dist)
        cand_t, cand_df, cand_len = terms[band], df[band], lens[band]
        if not len(cand_t):
            return []
        dist = _lev_banded(cand_t, cand_len, word)
        keep = dist <= max_dist
        cand_t, cand_df, dist = cand_t[keep], cand_df[keep], dist[keep]
        if not len(cand_t):
            return []
        order = np.lexsort((cand_t, -cand_df, dist))[:k]
        return [
            (str(cand_t[i]), int(dist[i]), int(cand_df[i])) for i in order
        ]
