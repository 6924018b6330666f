"""Query-time retrieval kernels over DINT-compressed segments.

Single-list cursor (= the reference's document_enumerator,
include/dint/dict_posting_list.hpp:88-342) with lazy per-block decode, plus
the reference's DAAT operators (include/ds2i/queries.hpp):

  and/or             boolean leapfrog intersection / k-way union (34-130)
  ranked_or          exhaustive DAAT scoring — the oracle slice (387-457)
  ranked_and         intersection + scoring (309-385)
  wand               pivot-based threshold pruning (190-307)
  block_max_wand     WAND + per-block max-score upper bounds (our extension
                     of Q13 using the segments' block_max_scores metadata;
                     the north rule's required operator)
  maxscore           essential/non-essential list split (459-573)

All scoring is float32 in the reference's accumulation order (cursor list
sorted by term_id for ranked_or/ranked_and; by docid for WAND), with the
topk queue's strict `>` insertion (queries.hpp:150-188), so every optimized
operator reproduces ranked_or's top-k (doc_id, score) exactly. A float64
mode exists for cross-checking against SQL oracles.

Distributed execution: queries x segments are joined on term_id (parquet
term_id pushdown prunes the scan), then one applyInPandas group per query
runs the kernel; per-query top-k rows come back — the executor->driver
traffic is k rows per query, mirroring the reference's q/s protocol.
"""

from __future__ import annotations

import heapq
import os
from collections import OrderedDict
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dint_spark.bm25 import BM25
from dint_spark.dint.codec import (BLOCK_SIZE, decode_posting_blocks,
                                   decode_postings, posting_blocks)


class Cursor:
    """Enumerator over one compressed posting list. Blocks decode only when
    the scalar walk (docid/next/next_geq/move/freq) reaches them: the vec
    kernels read the list through the block-max arrays and get_span, so a
    cursor they never walk decodes nothing."""

    __slots__ = (
        "n", "block_maxs", "endpoints", "freq_offsets", "payload", "universe",
        "docs_dict", "freqs_dict",
        "nblocks", "cur_block", "pos", "docids", "freqs", "cur_docid",
        "q_weight", "max_weight", "block_max_scores", "term_id", "bound_scale",
        "_ckey", "_blk",
    )

    def __init__(self, n, block_maxs, endpoints, freq_offsets, payload,
                 universe, docs_dict, freqs_dict, block_max_scores=None,
                 term_id=-1):
        self.n = int(n)
        self.block_maxs = np.asarray(block_maxs, dtype=np.int64)
        self.endpoints = np.asarray(endpoints, dtype=np.int64)
        self.freq_offsets = np.asarray(freq_offsets, dtype=np.int64)
        self.payload = bytes(payload)
        self.universe = int(universe)
        self.docs_dict = docs_dict
        self.freqs_dict = freqs_dict
        self.nblocks = len(self.block_maxs)
        self.block_max_scores = (
            np.asarray(block_max_scores, dtype=np.float32)
            if block_max_scores is not None else None
        )
        self.term_id = term_id
        self.q_weight = np.float32(0)
        self.max_weight = np.float32(0)
        # >1 only in float64 scoring mode: the stored per-block maxima are
        # float32, so a tiny inflation keeps them valid upper bounds for
        # float64-computed scores (never causes false exclusion, only
        # marginally less pruning)
        self.bound_scale = np.float32(1.0)
        self._ckey = self._blk = None
        # not yet walked: no block decoded, cur_docid below every docid
        self.cur_block = -1
        self.pos = 0
        self.docids = self.freqs = None
        self.cur_docid = -1

    def block_table(self, blocks=None) -> tuple[bytes, np.ndarray]:
        """codec.posting_blocks of ``blocks`` (None: every block): built
        per call, for only the blocks about to be decoded."""
        return posting_blocks([self.payload], [self.n], [self.block_maxs],
                              [self.endpoints], [self.freq_offsets], blocks)

    def _decode_block(self, b: int) -> None:
        self._blk = self.block_table((b,))  # kept for the lazy freqs
        self.docids, _ = decode_posting_blocks(*self._blk, self.docs_dict,
                                               None)
        self.freqs = None  # lazy (ref dict_posting_list.hpp:164-169)
        self.cur_block = b
        self.pos = 0
        self.cur_docid = int(self.docids[0])

    def docid(self) -> int:
        if self.cur_docid < 0:
            self._decode_block(0)
        return self.cur_docid

    def next(self) -> None:
        if self.cur_docid < 0:
            self._decode_block(0)
        self.pos += 1
        if self.pos == len(self.docids):
            if self.cur_block + 1 == self.nblocks:
                self.cur_docid = self.universe
                return
            self._decode_block(self.cur_block + 1)
        else:
            self.cur_docid = int(self.docids[self.pos])

    def next_geq(self, lb: int) -> None:
        if self.cur_docid >= lb:
            return
        if self.cur_block < 0 or lb > int(self.block_maxs[self.cur_block]):
            if lb > int(self.block_maxs[-1]):
                self.cur_docid = self.universe
                return
            b = int(np.searchsorted(self.block_maxs, lb, side="left"))
            self._decode_block(b)
        if self.cur_docid < lb:
            self.pos += int(np.searchsorted(self.docids[self.pos:], lb, side="left"))
            self.cur_docid = int(self.docids[self.pos])

    def move(self, pos: int) -> None:
        """Random access by position (ref dict_posting_list.hpp:149-158)."""
        if pos >= self.n:
            self.cur_docid = self.universe
            return
        b = pos // BLOCK_SIZE
        if b != self.cur_block:
            self._decode_block(b)
        self.pos = pos - b * BLOCK_SIZE
        self.cur_docid = int(self.docids[self.pos])

    def freq(self) -> int:
        if self.cur_docid < 0:
            self._decode_block(0)
        if self.freqs is None:
            _, self.freqs = decode_posting_blocks(*self._blk, None,
                                                  self.freqs_dict)
        return int(self.freqs[self.pos])

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        """Full-list decode (docs, freqs), via the worker-level LRU."""
        return _cached_full_decode(self)

    # -- block-max WAND shallow pointers (no decode) ------------------------
    def shallow_block_for(self, d: int) -> int:
        """Index of the block that would contain the first docid >= d."""
        return int(np.searchsorted(self.block_maxs, d, side="left"))

    def block_upper_bound(self, d: int) -> np.float32:
        b = self.shallow_block_for(d)
        if b >= self.nblocks:
            return np.float32(0)
        return self.q_weight * self.block_max_scores[b] * self.bound_scale

    def block_last_doc(self, d: int) -> int:
        b = self.shallow_block_for(d)
        if b >= self.nblocks:
            return self.universe
        return int(self.block_maxs[b])


class ArrayCursor:
    """Cursor API over fully-decoded arrays. Used to merge a head term's
    chunk rows (disjoint increasing doc ranges, see postings.build_postings)
    into ONE logical list for intersection kernels (ranked_and/boolean_and),
    which require exactly one cursor per term. Union-style kernels instead
    consume the chunk cursors directly — a doc matches at most one chunk, so
    scores and accumulation order are identical to a single merged list."""

    __slots__ = ("docs", "frs", "n", "pos", "universe", "cur_docid",
                 "q_weight", "max_weight", "term_id", "bound_scale")

    def __init__(self, docs: np.ndarray, freqs: np.ndarray, universe: int,
                 term_id: int):
        self.docs = docs
        self.frs = freqs
        self.n = len(docs)
        self.universe = int(universe)
        self.term_id = term_id
        self.pos = 0
        self.cur_docid = int(docs[0]) if self.n else self.universe

    def docid(self) -> int:
        return self.cur_docid

    def next(self) -> None:
        self.pos += 1
        self.cur_docid = (int(self.docs[self.pos]) if self.pos < self.n
                          else self.universe)

    def next_geq(self, lb: int) -> None:
        if self.cur_docid >= lb:
            return
        self.pos += int(np.searchsorted(self.docs[self.pos:], lb, side="left"))
        self.cur_docid = (int(self.docs[self.pos]) if self.pos < self.n
                          else self.universe)

    def move(self, pos: int) -> None:
        if pos >= self.n:
            self.cur_docid = self.universe
            return
        self.pos = pos
        self.cur_docid = int(self.docs[pos])

    def freq(self) -> int:
        return int(self.frs[self.pos])

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        return self.docs, self.frs


# Worker-process-level LRU of fully-decoded posting lists. Zipfian query
# logs hit the same head terms constantly; decoding each list once per
# *worker* instead of once per *query* is the single biggest q/s lever.
# Keyed by (term_id, n, len, hash of all payload bytes) PLUS the decode
# dictionaries' content tokens: a DINT payload is dictionary codes, and
# two docid shards served by the same worker routinely emit byte-identical
# codewords that decode to different postings under their own learned
# dictionaries (found by the 4-shard gate: two shards' single-codeword
# lists for one term aliased and cross-served each other's postings).
# The payload hash alone still separates rebuilt indexes and freq-variant
# lists. Bounded so a 1000-executor deployment holds just its hot set per
# worker.
_LIST_CACHE: OrderedDict = OrderedDict()
_LIST_CACHE_BYTES = 0
_LIST_CACHE_CAP = int(os.environ.get("DINT_SPARK_DECODE_CACHE_MB", "256")) * 2**20

# Dense-accumulator scoring ceiling: exhaustive kernels switch from the
# candidate-compaction path (np.unique + per-list searchsorted, O(P log P))
# to a docid-indexed float accumulator (O(P + num_docs) pure scatter/scan)
# when the shard's doc count fits the per-worker budget. 2^24 docs = 67 MB
# f32 + 17 MB matched-mask per in-flight query; a 16-worker executor tops
# out ~1.3 GB transient — the same order as the pinned seg broadcast it
# serves. Shards above the ceiling (docid sharding bounds num_docs per
# shard; README "Scale design") keep the compaction path, which never
# materializes O(num_docs) state.
_DENSE_SCORE_MAX_DOCS = int(
    os.environ.get("DINT_SPARK_DENSE_SCORE_MAX_DOCS", str(1 << 24)))


class Tombstones:
    """Deleted-document set applied at query time (the liveDocs pattern:
    deleted docs are excluded from every result while corpus statistics —
    N, df, avg_len, hence BM25 weights — keep their pre-delete values
    until compact.compact_index rewrites the index; see index.delete_docs
    for the contract). Broadcast once per batch carrying only the sorted
    deleted ids; the dense O(num_docs) live mask materializes lazily ONCE
    per worker process (a broadcast value is shared across that worker's
    tasks), giving kernels O(1) membership tests. Under docid sharding
    num_docs is shard-local, so the mask is bounded by the shard size —
    the same footprint class as the norm_lens array that already ships."""

    __slots__ = ("ids", "num_docs", "_mask")

    def __init__(self, ids, num_docs: int):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.num_docs = int(num_docs)
        self._mask = None

    def __getstate__(self):
        return (self.ids, self.num_docs)  # never pickle the dense mask

    def __setstate__(self, state):
        self.ids, self.num_docs = state
        self._mask = None

    @property
    def mask(self) -> np.ndarray:
        """Dense bool[num_docs]; True = live."""
        if self._mask is None:
            m = np.ones(self.num_docs, dtype=bool)
            m[self.ids] = False
            self._mask = m
        return self._mask

    def excl_ids(self):
        """Excluded ids when that set is the cheap representation (dense
        kernels zero O(|deleted|) accumulator slots instead of scanning
        the mask); None tells callers to use ``mask`` instead."""
        return self.ids


class DocMask:
    """Query-time document filter (metadata predicate -> eligible-doc set),
    the Lucene filter/liveDocs pattern: every retrieval kernel consumes it
    through the same ``mask`` interface as Tombstones, BM25 statistics stay
    corpus-wide (a filter narrows candidates, it does not re-weigh terms).
    Ships as a packed little-endian bitmap — 1 bit/doc, 2 MiB per 2^24-doc
    shard — so a 1%-selective filter costs the same broadcast bytes as a
    99%-selective one (an id list would not). Under docid sharding the
    bitmap is shard-local, the same bounding argument as norm_lens."""

    __slots__ = ("packed", "num_docs", "_mask")

    def __init__(self, packed: np.ndarray, num_docs: int):
        self.packed = np.asarray(packed, dtype=np.uint8)
        self.num_docs = int(num_docs)
        self._mask = None

    @classmethod
    def from_mask(cls, mask: np.ndarray) -> "DocMask":
        m = np.asarray(mask, dtype=bool)
        out = cls(np.packbits(m, bitorder="little"), len(m))
        out._mask = m
        return out

    def __getstate__(self):
        return (self.packed, self.num_docs)  # never pickle the dense mask

    def __setstate__(self, state):
        self.packed, self.num_docs = state
        self._mask = None

    @property
    def mask(self) -> np.ndarray:
        """Dense bool[num_docs]; True = eligible. Materialized lazily once
        per worker process (broadcast values are shared across tasks)."""
        if self._mask is None:
            self._mask = np.unpackbits(
                self.packed, count=self.num_docs, bitorder="little"
            ).view(bool)
        return self._mask

    def excl_ids(self):
        return None  # excluded set may be O(num_docs); kernels use mask


_FILTER_CHUNK_BITS = 1 << 19  # 64 KiB of bitmap per aggregated chunk row


def build_doc_filter(spark: SparkSession, allowed: DataFrame, num_docs: int,
                     id_col: str = "doc_id") -> DocMask:
    """Distributed allowlist -> DocMask: ``allowed`` is any DataFrame with
    an eligible-doc id column (e.g. doclens filtered by a length predicate,
    or a lang/domain metadata table joined to the docmap). Each executor
    packs its 2^19-bit chunk of the bitmap (groupBy chunk -> packbits), the
    driver assembles num_docs/8 bytes — the collect is bits, never ids, so
    it is selectivity-independent and bounded per shard by docid sharding
    exactly like norm_lens. Out-of-range ids fail loudly."""
    chunk_rows = (
        allowed.select(F.col(id_col).cast("long").alias("doc_id"))
        .withColumn("chunk", F.shiftright("doc_id", 19))
        .groupBy("chunk")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        chunk = int(pdf["chunk"].iloc[0])
        ids = pdf["doc_id"].to_numpy()
        off = ids - (chunk << 19)
        bits = np.zeros(_FILTER_CHUNK_BITS, dtype=bool)
        bits[off] = True
        return pd.DataFrame({
            "chunk": [chunk],
            "max_id": [int(ids.max())],
            "bits": [np.packbits(bits, bitorder="little").tobytes()],
        })

    rows = chunk_rows.applyInPandas(
        pack, "chunk long, max_id long, bits binary").collect()
    packed = np.zeros((num_docs + 7) // 8, dtype=np.uint8)
    cbytes = _FILTER_CHUNK_BITS // 8
    for r in rows:
        c = int(r["chunk"])
        if c < 0 or int(r["max_id"]) >= num_docs:
            raise ValueError(f"allowed doc id {r['max_id']} out of range "
                             f"(num_docs={num_docs})")
        buf = np.frombuffer(r["bits"], dtype=np.uint8)
        end = min((c + 1) * cbytes, len(packed))
        packed[c * cbytes:end] = buf[: end - c * cbytes]
    return DocMask(packed, num_docs)


def _tombstones_bc(spark, index):
    """Broadcast the index's tombstones, or None when it has none."""
    if not getattr(index, "has_deletes", False):
        return None
    ids = index.deleted_docs()
    if not len(ids):
        return None
    return spark.sparkContext.broadcast(Tombstones(ids, index.num_docs))


def _live_bc(spark, index, doc_filter: DocMask | None):
    """One broadcast combining the index's tombstones with an optional
    query-time DocMask (eligible = live AND allowed). The combine happens
    driver-side on the packed/ids forms — num_docs/8 bytes of work, the
    same footprint class as the norm_lens array the driver already holds."""
    if doc_filter is None:
        return _tombstones_bc(spark, index)
    if doc_filter.num_docs != index.num_docs:
        raise ValueError(
            f"doc_filter.num_docs={doc_filter.num_docs} != "
            f"index.num_docs={index.num_docs}")
    tomb_ids = (index.deleted_docs()
                if getattr(index, "has_deletes", False) else None)
    if tomb_ids is not None and len(tomb_ids):
        m = doc_filter.mask.copy()
        m[tomb_ids] = False
        doc_filter = DocMask.from_mask(m)
    return spark.sparkContext.broadcast(doc_filter)


def _dict_token(d) -> str:
    """Content token of a decode dictionary (memoized on the object);
    '' for absent dictionaries."""
    tok = getattr(d, "cache_token", None)
    return tok() if tok is not None else ""


def _cache_key(c: "Cursor") -> tuple:
    if c._ckey is None:
        c._ckey = (c.term_id, c.n, len(c.payload), hash(c.payload),
                   _dict_token(c.docs_dict), _dict_token(c.freqs_dict))
    return c._ckey


def _cached_full_decode(c: "Cursor") -> tuple[np.ndarray, np.ndarray]:
    global _LIST_CACHE_BYTES
    key = _cache_key(c)
    hit = _LIST_CACHE.get(key)
    if hit is not None:
        _LIST_CACHE.move_to_end(key)
        return hit
    docs, freqs = decode_posting_blocks(*c.block_table(), c.docs_dict,
                                        c.freqs_dict)
    _LIST_CACHE[key] = (docs, freqs)
    _LIST_CACHE_BYTES += docs.nbytes + freqs.nbytes
    while _LIST_CACHE_BYTES > _LIST_CACHE_CAP and _LIST_CACHE:
        _, (d, f) = _LIST_CACHE.popitem(last=False)
        _LIST_CACHE_BYTES -= d.nbytes + f.nbytes
    return docs, freqs


class TopK:
    """k-min-heap with strict `>` insertion; ties keep earliest (= smallest
    docid, since DAAT visits docids in increasing order) — equivalent to
    top-k by (score desc, doc_id asc). (ref queries.hpp:150-188)"""

    __slots__ = ("k", "heap")

    def __init__(self, k: int):
        self.k = k
        self.heap: list = []

    def would_enter(self, score) -> bool:
        return len(self.heap) < self.k or score > self.heap[0][0]

    def insert(self, score, doc_id: int) -> bool:
        if len(self.heap) < self.k:
            heapq.heappush(self.heap, (score, -doc_id))
            return True
        if score > self.heap[0][0]:
            heapq.heapreplace(self.heap, (score, -doc_id))
            return True
        return False

    def finalize(self) -> list[tuple[int, float]]:
        out = sorted(self.heap, key=lambda t: (-t[0], -t[1]))
        return [(-nd, float(s)) for s, nd in out]

    @property
    def threshold(self):
        return self.heap[0][0] if len(self.heap) == self.k else None


def _dtw(freq: int, norm_len, DT):
    f = DT(freq)
    return f / (f + DT(1.2) * (DT(1.0) - DT(0.5) + DT(0.5) * norm_len))


def _qtw(qf: int, df: int, num_docs: int, DT):
    idf = np.log(DT((DT(num_docs) - DT(df) + DT(0.5)) / (DT(df) + DT(0.5))))
    return DT(qf) * max(DT(1.0e-6), DT(idf)) * (DT(1.0) + DT(1.2))


# ---------------------------------------------------------------------------
# kernels; `cursors` arrive sorted by term_id asc with q_weight/max_weight set
# ---------------------------------------------------------------------------

def ranked_or(cursors, norm_lens, num_docs: int, k: int, DT=np.float32,
              live=None):
    q = TopK(k)
    if not cursors:
        return []
    cur_doc = min(c.docid() for c in cursors)
    while cur_doc < num_docs:
        score = DT(0)
        norm_len = DT(norm_lens[cur_doc])
        next_doc = num_docs
        for c in cursors:
            if c.docid() == cur_doc:
                score = score + c.q_weight * _dtw(c.freq(), norm_len, DT)
                c.next()
            if c.docid() < next_doc:
                next_doc = c.docid()
        # tombstoned docs never enter the heap (so they can never raise a
        # pruning threshold above what live docs justify); same guard shape
        # in every kernel below
        if live is None or live.mask[cur_doc]:
            q.insert(score, cur_doc)
        cur_doc = next_doc
    return q.finalize()


def _dense_topk(lists, norm_lens, num_docs: int, k: int, DT, floor=None,
                live=None):
    """Exhaustive BM25 top-k via a docid-indexed accumulator.

    ``lists`` is (q_weight, docs, freqs) per cursor in term_id order — the
    canonical accumulation order. Each list adds its per-posting float
    contribution with one fancy-index scatter (docids are unique within a
    list, so ``acc[docs] += x`` is a plain unbuffered add); a doc matched
    by several lists receives its adds in exactly the same IEEE sequence
    as the candidate-compaction path (which adds an exact 0 for unmatched
    docs — a no-op on non-negative f32), so scores are bit-identical.
    Top-k selection: k-th-value partition, then doc-asc lexsort of the
    >=t ties only — identical (doc_id, score) rows to a full lexsort.

    O(P) scatter + O(num_docs) scan, no sort of the posting union; only
    valid when num_docs fits worker memory (callers gate on
    _DENSE_SCORE_MAX_DOCS — docid sharding bounds num_docs per shard).
    """
    acc = np.zeros(num_docs, dtype=DT)
    K1 = DT(1.2)
    NORM = DT(1.0) - DT(0.5)  # 1 - b
    nl = np.asarray(norm_lens)
    for qw, docs, freqs in lists:
        f = freqs.astype(DT)
        dtw = f / (f + K1 * (NORM + DT(0.5) * nl[docs].astype(DT, copy=False)))
        acc[docs] += qw * dtw
    # excluded docs (tombstones and/or DocMask filter): zero their slots so
    # selection can't pick them; live docs' accumulated scores are
    # untouched. Tombstones expose the excluded ids (O(|deleted|) zeroing);
    # DocMask filters may exclude O(num_docs), so they zero via the bitmap
    # mask instead — O(num_docs), the class this kernel already lives in.
    if live is not None:
        excl = live.excl_ids()
        if excl is not None:
            if len(excl):
                acc[excl] = DT(0)
        else:
            acc[~live.mask] = DT(0)
    # ``floor``: any certified lower bound on the k-th best score (BMW
    # passes its bootstrap theta — the k-th best of >= k exactly-scored
    # docs, whose acc entries are bit-identical to those scores). A mask
    # scan at the floor replaces the O(num_docs) introselect partition.
    cand = None
    if floor is not None and floor > 0:
        cand = np.flatnonzero(acc >= floor)
        if len(cand) < k:  # unreachable for a valid bound; stay safe
            cand = None
    if cand is None:
        # matched docs score strictly > 0 (q_weight is idf-floored
        # positive, dtw = f/(f+denom) with f >= 1 and finite denom — no
        # subnormal path), so a positive k-th value certifies every
        # selected doc is matched and no matched-doc mask is needed;
        # t == 0 means < k matched docs exist.
        if num_docs > k:
            t = np.partition(acc, num_docs - k)[num_docs - k]
        else:
            t = DT(0)
        cand = np.flatnonzero(acc >= t) if t > 0 else np.flatnonzero(acc > 0)
    if not len(cand):
        return []
    vals = acc[cand]
    if len(cand) > k:
        # keep k-th-value ties for doc-asc resolution
        t = np.partition(vals, len(vals) - k)[len(vals) - k]
        sel = vals >= t
        cand, vals = cand[sel], vals[sel]
    order = np.lexsort((cand, -vals))[:k]
    return [(int(cand[i]), float(vals[i])) for i in order]


def ranked_or_vec(cursors, norm_lens, num_docs: int, k: int, DT=np.float32,
                  live=None):
    """Vectorized exhaustive DAAT: numerically identical to ranked_or.

    Per-doc accumulation order is term_id asc (the cursor order), exactly as
    the scalar loop adds matching cursors per doc — each list contributes one
    float32 add per doc, in the same sequence, with elementwise-identical
    IEEE ops, so scores are bit-equal to ranked_or. Shards whose doc count
    fits the per-worker budget score through the dense docid-indexed
    accumulator (_dense_topk — O(P) scatter, no posting-union sort); larger
    shards compact docid space via the union of list docids (no dense
    num_docs array), so the kernel stays partition-safe at 10^12-doc scale.
    """
    if not cursors:
        return []
    lists = []
    for c in cursors:  # arrive sorted by term_id (build_cursors)
        docs, freqs = c.decode_all()
        lists.append((c, docs, freqs))
    if num_docs <= _DENSE_SCORE_MAX_DOCS:
        return _dense_topk(((c.q_weight, d, f) for c, d, f in lists),
                           norm_lens, num_docs, k, DT, live=live)
    union, scores = _compacted_scores(lists, norm_lens, DT, live)
    order = np.lexsort((union, -scores))[:k]
    return [(int(union[i]), float(scores[i])) for i in order]


def _compacted_scores(lists, norm_lens, DT, live=None):
    """Exact OR-mode BM25 scores over the compacted match union.

    ``lists`` is (cursor, docs, freqs) in term_id order. Scatters each
    list's float contribution by searchsorted position into the sorted
    union of matched docids — accumulation sequence identical to
    ranked_or's per-doc adds, so scores are bit-equal. No dense
    num_docs array: memory is O(|match set|), partition-safe at
    10^12-doc scale."""
    if live is not None:
        # tombstoned postings must drop from BOTH the union and each list
        # (live docs' adds are per-doc independent — scores bit-identical)
        lists = [(c, d[live.mask[d]], f[live.mask[d]]) for c, d, f in lists]
    union = np.unique(np.concatenate([d for _, d, _ in lists]))
    scores = np.zeros(len(union), dtype=DT)
    for c, docs, freqs in lists:
        pos = np.searchsorted(union, docs)
        nl = np.asarray(norm_lens)[docs].astype(DT, copy=False)
        f = freqs.astype(DT)
        dtw = f / (f + DT(1.2) * (DT(1.0) - DT(0.5) + DT(0.5) * nl))
        scores[pos] += c.q_weight * dtw
    return union, scores


def shared_index_bc(spark, index, name: str, build):
    """Per-index broadcast cache for the payloads every kernel op ships
    (docs/freqs dictionaries, norm arrays): run_queries used to
    re-broadcast them on every call (round-2 residual), which a gate or
    bench run pays ~80x. Keyed by Spark applicationId so a restarted
    session re-broadcasts instead of reusing a dead handle; the cache
    lives on the Index handle, whose lifetime already matches the
    payloads'."""
    cache = getattr(index, "_bc_cache", None)
    if cache is None:
        cache = {}
        try:
            index._bc_cache = cache
        except AttributeError:  # exotic index-like objects: no caching
            return spark.sparkContext.broadcast(build())
    key = (spark.sparkContext.applicationId, name)
    bc = cache.get(key)
    if bc is None:
        bc = cache[key] = spark.sparkContext.broadcast(build())
    return bc


def kernel_query_join(spark: SparkSession, index, queries):
    """The shared front half of every term-spec kernel op: term-id specs
    -> (query_id, term_id, qf) rows joined to the pruned BM25 segment
    rows, ready for groupBy(query_id).applyInPandas. Duplicate terms in
    a spec fold into qf."""
    local_terms = sorted({int(t) for ts in queries for t in ts})
    qdf = spark.createDataFrame(
        [(i, [int(t) for t in ts]) for i, ts in enumerate(queries)],
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("terms", T.ArrayType(T.LongType()), False),
        ]),
    )
    qterms = (
        qdf.select("query_id", F.explode("terms").alias("term_id"))
        .groupBy("query_id", "term_id")
        .agg(F.count("*").alias("qf"))
    )
    return qterms.join(
        _pruned_segments(index, qterms, local_terms).select(*_BM25_SEG_COLS),
        "term_id")


def matched_scores(cursors, norm_lens, num_docs: int, DT=np.float32,
                   live=None) -> tuple[np.ndarray, np.ndarray]:
    """(docids asc, exact BM25 scores) for the FULL OR match set — the
    collection pass behind operators that rank the whole match list by
    something other than a plain top-k heap (field collapsing, cursor
    pagination). Scores are bit-identical to ranked_or / ranked_or_vec
    for the same dtype (same compacted accumulation)."""
    if not cursors:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=DT))
    lists = []
    for c in cursors:  # arrive sorted by term_id (build_cursors)
        docs, freqs = c.decode_all()
        lists.append((c, docs, freqs))
    union, scores = _compacted_scores(lists, norm_lens, DT, live)
    return union.astype(np.int64, copy=False), scores


def ranked_and(cursors, norm_lens, num_docs: int, k: int, DT=np.float32,
               live=None):
    q = TopK(k)
    if not cursors:
        return []
    cs = sorted(cursors, key=lambda c: c.n)
    candidate = cs[0].docid()
    i = 1
    while candidate < num_docs:
        while i < len(cs):
            cs[i].next_geq(candidate)
            if cs[i].docid() != candidate:
                candidate = cs[i].docid()
                i = 0
                break
            i += 1
        else:
            norm_len = DT(norm_lens[candidate])
            score = DT(0)
            # canonical term_id accumulation order (see wand note)
            for c in sorted(cs, key=lambda c: c.term_id):
                score = score + c.q_weight * _dtw(c.freq(), norm_len, DT)
            if live is None or live.mask[candidate]:
                q.insert(score, candidate)
            cs[0].next()
            candidate = cs[0].docid()
            i = 1
    return q.finalize()


def boolean_and(cursors, num_docs: int, live=None) -> list[int]:
    if not cursors:
        return []
    cs = sorted(cursors, key=lambda c: c.n)
    out = []
    candidate = cs[0].docid()
    i = 1
    while candidate < num_docs:
        while i < len(cs):
            cs[i].next_geq(candidate)
            if cs[i].docid() != candidate:
                candidate = cs[i].docid()
                i = 0
                break
            i += 1
        else:
            if live is None or live.mask[candidate]:
                out.append(candidate)
            cs[0].next()
            candidate = cs[0].docid()
            i = 1
    return out


def boolean_or(cursors, num_docs: int, live=None) -> list[int]:
    if not cursors:
        return []
    out = []
    cur_doc = min(c.docid() for c in cursors)
    while cur_doc < num_docs:
        if live is None or live.mask[cur_doc]:
            out.append(cur_doc)
        next_doc = num_docs
        for c in cursors:
            if c.docid() == cur_doc:
                c.next()
            if c.docid() < next_doc:
                next_doc = c.docid()
        cur_doc = next_doc
    return out


def boolean_and_not(cursors, neg_cursors, num_docs: int, live=None
                    ) -> list[int]:
    """AND over ``cursors`` minus any doc present in a ``neg_cursors`` list
    (Lucene's MUST/MUST_NOT clause pair; no reference counterpart — the
    reference's boolean kernels stop at AND/OR, queries.hpp:34-130).

    Exclusion is a next_geq leapfrog per negative list over the (sorted,
    already-intersected) positive matches, so a huge negative list ("NOT
    the") is *skipped through* via its block endpoints — never fully
    decoded — and the work is O(|matches| * |neg_terms|) skip probes, the
    same complexity class as the AND itself."""
    matches = boolean_and(cursors, num_docs, live=live)
    if not matches or not neg_cursors:
        return matches
    keep = np.ones(len(matches), dtype=bool)
    for c in neg_cursors:
        for i, d in enumerate(matches):
            if not keep[i]:
                continue
            if c.docid() < d:
                c.next_geq(d)
            if c.docid() == d:
                keep[i] = False
            elif c.docid() >= num_docs:
                break
    return [d for d, k in zip(matches, keep) if k]


def wand(cursors, norm_lens, num_docs: int, k: int, DT=np.float32,
         block_max: bool = False, live=None):
    """WAND (ref queries.hpp:190-307); block_max=True adds the per-block
    max-score check + boundary skipping (Ding & Suel BMW)."""
    q = TopK(k)
    if not cursors:
        return []
    ordered = list(cursors)
    ordered.sort(key=lambda c: c.docid())

    while True:
        # find pivot
        upper_bound = DT(0)
        found_pivot = False
        pivot = 0
        for pivot in range(len(ordered)):
            if ordered[pivot].docid() >= num_docs:
                break
            upper_bound = upper_bound + ordered[pivot].max_weight
            if q.would_enter(upper_bound):
                found_pivot = True
                break
        if not found_pivot:
            break

        pivot_id = ordered[pivot].docid()

        if block_max:
            # extend the pivot over the whole equal-docid group so the
            # block-max bound covers every list that can contain pivot_id
            while pivot + 1 < len(ordered) and ordered[pivot + 1].docid() == pivot_id:
                pivot += 1
            # shallow block-max refinement of the upper bound; each addend
            # dominates the corresponding scoring addend in float32, and
            # f32 ops are monotonic, so the bound is exact-safe
            bm_ub = DT(0)
            for i in range(pivot + 1):
                bm_ub = bm_ub + ordered[i].block_upper_bound(pivot_id)
            if not q.would_enter(bm_ub):
                # safe skip target: past the tightest current-block boundary,
                # capped by the next list's docid (Ding & Suel BMW)
                d = min(c.block_last_doc(pivot_id) for c in ordered[: pivot + 1]) + 1
                d = max(d, pivot_id + 1)
                if pivot + 1 < len(ordered):
                    d = min(d, ordered[pivot + 1].docid())
                ordered[0].next_geq(d)
                _bubble_down(ordered, 0)
                continue

        if pivot_id == ordered[0].docid():
            norm_len = DT(norm_lens[pivot_id])
            # score in term_id order (canonical accumulation: bit-identical
            # to ranked_or; the reference scores in cursor order and accepts
            # 0.1% tolerance instead — we pin the stronger contract)
            matching = [c for c in ordered if c.docid() == pivot_id]
            matching.sort(key=lambda c: c.term_id)
            score = DT(0)
            for c in matching:
                score = score + c.q_weight * _dtw(c.freq(), norm_len, DT)
            for c in matching:
                c.next()
            if live is None or live.mask[pivot_id]:
                q.insert(score, pivot_id)
            ordered.sort(key=lambda c: c.docid())
        else:
            next_list = pivot
            while ordered[next_list].docid() == pivot_id:
                next_list -= 1
            ordered[next_list].next_geq(pivot_id)
            _bubble_down(ordered, next_list)
    return q.finalize()


def _bubble_down(ordered, i: int) -> None:
    for j in range(i + 1, len(ordered)):
        if ordered[j].docid() < ordered[j - 1].docid():
            ordered[j], ordered[j - 1] = ordered[j - 1], ordered[j]
        else:
            break


def block_max_wand_vec(cursors, norm_lens, num_docs: int, k: int,
                       DT=np.float32, live=None):
    """Block-level vectorized BMW: exact same top-k as ranked_or, with the
    per-doc Python loop replaced by numpy over 256-int blocks.

    Two phases:
      1. bootstrap: exactly score the docs of each list's single best block
         (by q_weight x block_max_score); theta = k-th best of those scores.
      2. survival on the aligned interval grid: docid space is partitioned
         at the union of all lists' 256-block boundaries, so each list's
         covering block is constant on every interval; the interval's upper
         bound is the sequential float32 sum, in term_id order, of
         q_i * bms_i[covering block] (0 for exhausted lists). Every addend
         dominates the corresponding scoring addend and f32 addition is
         monotone, so ub(t) >= score(d) for any doc d in interval t;
         pruning is strict (ub < theta) so boundary ties are kept. Docs in
         surviving intervals are scored exactly (vectorized, zero-padded
         adds in term_id order are bit-identical to ranked_or's
         accumulation). This is the Ding & Suel block-max bound — per-block
         LOCAL maxima of every list, not global maxima of the others — which
         is what makes the pruning bite on skewed multi-term queries.

    At 10^12-doc scale this is the operative query kernel: per-query Python
    work is O(num_lists x num_blocks), all postings math is Arrow/numpy.
    (ref block-max metadata: our extension of include/ds2i/wand_data.hpp;
    pruning logic per Ding & Suel BMW.)
    """
    if not cursors:
        return []
    m = len(cursors)
    nl_arr = np.asarray(norm_lens)
    mw = [c.max_weight for c in cursors]  # DT scalars, term_id order

    from dint_spark.dint.codec import BLOCK_SIZE as _BS

    # per-cursor decoded-span state: (sorted block ids, concat docs, concat
    # freqs or None). Served from the worker-level full-list LRU when the
    # list is hot or mostly needed; otherwise a subset bulk-decode.
    span_cache: list[dict] = [{"blocks": None} for _ in cursors]

    def _slice_blocks(c, docs, freqs, have: np.ndarray, blocks: np.ndarray):
        """Select `blocks` out of arrays decoded for block set `have`."""
        if len(have) == len(blocks):
            return docs, freqs
        pos = np.searchsorted(have, blocks)
        lens = np.minimum((blocks + 1) * _BS, c.n) - blocks * _BS
        keep = (np.arange(_BS)[None, :] < lens[:, None]).ravel()
        ulens = np.minimum((have + 1) * _BS, c.n) - have * _BS
        uoffs = np.concatenate([[0], np.cumsum(ulens)])
        sel = (uoffs[pos][:, None] + np.arange(_BS)[None, :]).ravel()[keep]
        return docs[sel], (freqs[sel] if freqs is not None else None)

    def get_span(ci: int, blocks: np.ndarray, want_freqs: bool):
        """Concatenated (docs, freqs) of `blocks` (sorted), bulk-decoded."""
        c = cursors[ci]
        all_blocks = np.arange(c.nblocks)
        key = _cache_key(c)
        hit = _LIST_CACHE.get(key)
        if hit is not None:
            _LIST_CACHE.move_to_end(key)  # LRU order reflects hits
        elif len(blocks) * 2 > c.nblocks:
            hit = _cached_full_decode(c)
        if hit is not None:
            return _slice_blocks(c, hit[0], hit[1], all_blocks, blocks)
        sc = span_cache[ci]
        have = sc["blocks"]
        if (have is None or len(np.setdiff1d(blocks, have, assume_unique=True))
                or (want_freqs and sc["freqs"] is None)):
            union = (blocks if have is None
                     else np.union1d(have, blocks))
            # keep freqs once decoded so a later regrow can't lose them
            want_freqs = want_freqs or (have is not None
                                        and sc["freqs"] is not None)
            docs, freqs = decode_posting_blocks(
                *c.block_table(union.tolist()), c.docs_dict,
                c.freqs_dict if want_freqs else None)
            sc["blocks"], sc["docs"], sc["freqs"] = union, docs, freqs
        return _slice_blocks(c, sc["docs"], sc["freqs"], sc["blocks"], blocks)

    K1 = DT(1.2)
    NORM = DT(1.0) - DT(0.5)  # 1 - b

    def exact_scores(C: np.ndarray) -> np.ndarray:
        scores = np.zeros(len(C), dtype=DT)
        nlC = nl_arr[C].astype(DT, copy=False)
        dtw_denom = K1 * (NORM + DT(0.5) * nlC)
        for ci, c in enumerate(cursors):  # term_id order == accumulation order
            blk = np.searchsorted(c.block_maxs, C, side="left")
            valid = blk < c.nblocks
            need = np.unique(blk[valid])
            if not len(need):
                continue
            docs, freqs = get_span(ci, need, want_freqs=True)
            cm = C[valid]
            idx = np.searchsorted(docs, cm)
            idx2 = np.minimum(idx, len(docs) - 1)
            found = docs[idx2] == cm
            contrib = np.zeros(len(C), dtype=DT)
            f = freqs[idx2].astype(DT)
            dtw = f / (f + dtw_denom[valid])
            contrib[np.flatnonzero(valid)] = np.where(
                found, c.q_weight * dtw, DT(0))
            scores = scores + contrib  # adding exact 0 keeps f32 bit-identity
        return scores

    # ---- phase 1: bootstrap threshold ------------------------------------
    parts0 = []
    for ci, c in enumerate(cursors):
        b = int(np.argmax(c.block_max_scores))
        parts0.append(get_span(ci, np.array([b], dtype=np.int64), False)[0])
    C0 = np.unique(np.concatenate(parts0))
    if live is not None:
        # theta must be certified from LIVE docs only: a tombstoned doc's
        # score in the bootstrap could set a floor above what live docs
        # justify and falsely prune intervals holding live answers
        C0 = C0[live.mask[C0]]
    s0 = exact_scores(C0)
    theta = np.partition(s0, len(s0) - k)[len(s0) - k] if len(s0) >= k else None

    # ---- phase 2: aligned-interval survival + exact scoring --------------
    # B[t] = last docid of interval t; interval t covers (B[t-1], B[t]].
    B = np.unique(np.concatenate([c.block_maxs for c in cursors]))
    nt = len(B)
    starts = np.empty(nt, dtype=np.int64)
    starts[0] = 0
    starts[1:] = B[:-1] + 1
    cover = []  # per list: covering block index per interval
    for c in cursors:
        cover.append(np.searchsorted(c.block_maxs, starts, side="left"))
    if theta is None:
        cand = np.ones(nt, dtype=bool)
    else:
        ub = np.zeros(nt, dtype=DT)
        for ci, c in enumerate(cursors):  # sequential f32 fold, term order
            bi = cover[ci]
            valid = bi < c.nblocks
            u = np.zeros(nt, dtype=DT)
            u[valid] = (c.q_weight
                        * c.block_max_scores.astype(DT)[bi[valid]]
                        * c.bound_scale)
            ub = ub + u
        cand = ub >= theta
    parts = [C0]
    cand_t = np.flatnonzero(cand)
    needs = []
    for ci, c in enumerate(cursors):
        bi = cover[ci][cand_t]
        needs.append(np.unique(bi[bi < c.nblocks]))
    # adaptive: when pruning keeps most blocks anyway, the interval filter
    # only adds overhead — fall back to exhaustive candidates (still exact,
    # = ranked_or_vec over the bulk-decoded lists)
    exhaustive = (sum(len(nd) for nd in needs)
                  > 0.5 * sum(c.nblocks for c in cursors))
    if exhaustive and num_docs <= _DENSE_SCORE_MAX_DOCS:
        # head-term queries at shard scale: pruning kept most blocks, so
        # score everything through the dense accumulator (same adds, same
        # order as exact_scores over the candidate union — bit-identical;
        # see _dense_topk) instead of paying unique/searchsorted over a
        # candidate set approaching num_docs.
        lists = []
        for ci, c in enumerate(cursors):
            docs, freqs = get_span(ci, np.arange(c.nblocks), want_freqs=True)
            lists.append((c.q_weight, docs, freqs))
        return _dense_topk(lists, nl_arr, num_docs, k, DT, floor=theta,
                           live=live)
    for ci, c in enumerate(cursors):
        if exhaustive:
            docs, _ = get_span(ci, np.arange(c.nblocks), want_freqs=False)
            parts.append(docs)
        elif len(needs[ci]):
            docs, _ = get_span(ci, needs[ci], want_freqs=False)
            iv = np.searchsorted(B, docs, side="left")
            parts.append(docs[cand[iv]])
    C = np.unique(np.concatenate(parts))
    if live is not None:
        C = C[live.mask[C]]  # C0 was filtered before scoring, so C stays ⊇ C0
    # bootstrap docs are already scored; only score the new candidates
    new = C[~np.isin(C, C0, assume_unique=True)]
    s_new = exact_scores(new) if len(new) else np.empty(0, dtype=DT)
    allC = np.concatenate([C0, new])
    allS = np.concatenate([s0, s_new])
    order = np.lexsort((allC, -allS))[:k]
    return [(int(allC[i]), float(allS[i])) for i in order]


def maxscore(cursors, norm_lens, num_docs: int, k: int, DT=np.float32,
             live=None):
    """ref queries.hpp:459-573."""
    q = TopK(k)
    if not cursors:
        return []
    ordered = sorted(cursors, key=lambda c: c.max_weight)
    ub = []
    acc = DT(0)
    for c in ordered:
        acc = acc + c.max_weight
        ub.append(acc)

    non_essential = 0
    cur_doc = min(c.docid() for c in ordered)

    while non_essential < len(ordered) and cur_doc < num_docs:
        score = DT(0)
        norm_len = DT(norm_lens[cur_doc])
        next_doc = num_docs
        matches = []  # (term_id, q_weight, freq) of every matched cursor
        for i in range(non_essential, len(ordered)):
            c = ordered[i]
            if c.docid() == cur_doc:
                matches.append((c.term_id, c.q_weight, c.freq()))
                score = score + c.q_weight * _dtw(matches[-1][2], norm_len, DT)
                c.next()
            if c.docid() < next_doc:
                next_doc = c.docid()

        fully_scored = True
        for i in range(non_essential - 1, -1, -1):
            if not q.would_enter(score + ub[i]):
                fully_scored = False
                break
            c = ordered[i]
            c.next_geq(cur_doc)
            if c.docid() == cur_doc:
                matches.append((c.term_id, c.q_weight, c.freq()))
                score = score + c.q_weight * _dtw(matches[-1][2], norm_len, DT)

        if fully_scored:
            # canonical term_id accumulation order: scores (hence docid
            # tie-breaks) become bit-identical to ranked_or for every doc
            # that was completely evaluated. Partially-scored docs keep the
            # running sum — it cannot enter the heap (<= threshold), matching
            # the reference's pruning (queries.hpp:528-556), whose scores are
            # only 0.1%-close; ours are exact except at pruning boundaries.
            matches.sort(key=lambda t: t[0])
            score = DT(0)
            for _, qw, f in matches:
                score = score + qw * _dtw(f, norm_len, DT)

        if (live is None or live.mask[cur_doc]) and q.insert(score, cur_doc):
            while non_essential < len(ordered) and not q.would_enter(ub[non_essential]):
                non_essential += 1

        cur_doc = next_doc
    return q.finalize()


KERNELS = {
    "ranked_or": lambda cs, nl, nd, k, DT, live=None: ranked_or(
        cs, nl, nd, k, DT, live=live),
    "ranked_or_vec": lambda cs, nl, nd, k, DT, live=None: ranked_or_vec(
        cs, nl, nd, k, DT, live=live),
    "ranked_and": lambda cs, nl, nd, k, DT, live=None: ranked_and(
        cs, nl, nd, k, DT, live=live),
    "wand": lambda cs, nl, nd, k, DT, live=None: wand(
        cs, nl, nd, k, DT, block_max=False, live=live),
    "block_max_wand": lambda cs, nl, nd, k, DT, live=None: wand(
        cs, nl, nd, k, DT, block_max=True, live=live),
    "block_max_wand_vec": lambda cs, nl, nd, k, DT, live=None:
        block_max_wand_vec(cs, nl, nd, k, DT, live=live),
    "maxscore": lambda cs, nl, nd, k, DT, live=None: maxscore(
        cs, nl, nd, k, DT, live=live),
}

TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

# the segment columns the BM25/boolean cursor kernels read — positional
# indexes add pos_payload/pos_endpoints, which only the phrase path needs
_BM25_SEG_COLS = ["term_id", "seg_id", "n", "block_maxs", "block_max_scores",
                  "endpoints", "freq_offsets", "payload", "max_weight"]


def build_cursors(group: pd.DataFrame, docs_dict, freqs_dict, num_docs: int,
                  DT=np.float32, merge_chunks: bool = False,
                  df_overrides: dict | None = None,
                  idf_docs: int | None = None,
                  bound_inflate: float = 1.0) -> list:
    """group rows: one per (distinct query term x segment chunk row). A
    term's chunk rows (seg_id asc) are disjoint increasing doc ranges; the
    term's df for the query weight is the SUM of its rows' n. Union-style
    kernels receive one cursor per chunk row (exact by disjointness);
    intersection kernels (merge_chunks=True) receive one merged ArrayCursor
    per multi-row term.

    Sharded serving (sharding.run_queries_sharded) passes GLOBAL statistics:
    df_overrides maps term_id -> corpus-wide df and idf_docs is the global
    N, so every shard computes the same query weights as the unsharded
    index would.

    ``bound_inflate`` > 1 certifies PRUNING under stale stored bounds: the
    segment's max_weight / block_max_scores were computed at build time
    with the then-current avg_len baked into norm_len, and incremental
    appends (sharding.append_docs) can raise the global avg_len. Since
    w(f, nl) = f/(f + k1(1-b) + k1*b*nl) grows by at most avg_new/avg_old
    when nl shrinks by that factor, multiplying every stored bound by
    that ratio (with a 1e-5 float-rounding margin) keeps WAND/BMW/maxscore
    skipping safe; final scores are unaffected (computed from recomputed
    norms, not bounds)."""
    cols = ["term_id", "seg_id"] if "seg_id" in group.columns else ["term_id"]
    group = group.sort_values(cols)
    N = int(idf_docs) if idf_docs is not None else num_docs
    base_scale = DT(1.0 + 1e-5) if DT is np.float64 else DT(1.0)
    if bound_inflate != 1.0:
        base_scale = DT(base_scale * DT(bound_inflate))
    cursors: list = []
    for term_id, rows in group.groupby("term_id", sort=True):
        df_total = (int(df_overrides[int(term_id)]) if df_overrides
                    else int(rows["n"].sum()))
        # qf is an int count for plain queries, a float for weighted
        # (RM3-expanded) ones — DT() of an exact int float is bit-equal
        # to DT() of the int, so the plain path is unchanged
        qw = _qtw(float(rows["qf"].iloc[0]), df_total, N, DT)
        scale = base_scale
        term_cursors = []
        for row in rows.itertuples():
            c = Cursor(
                row.n, row.block_maxs, row.endpoints, row.freq_offsets,
                row.payload, num_docs, docs_dict, freqs_dict,
                block_max_scores=row.block_max_scores, term_id=int(term_id),
            )
            c.q_weight = qw
            c.bound_scale = scale
            c.max_weight = DT(qw * DT(row.max_weight) * DT(scale))
            term_cursors.append(c)
        if merge_chunks and len(term_cursors) > 1:
            parts = [c.decode_all() for c in term_cursors]
            a = ArrayCursor(np.concatenate([p[0] for p in parts]),
                            np.concatenate([p[1] for p in parts]),
                            num_docs, int(term_id))
            a.q_weight = qw
            a.bound_scale = scale
            a.max_weight = max(c.max_weight for c in term_cursors)
            cursors.append(a)
        else:
            cursors.extend(term_cursors)
    return cursors


def read_query_log(path: str, vocab_mod: int | None = None
                   ) -> list[list[int]]:
    """Parse a reference-format query log: one query per line, whitespace-
    separated decimal term ids (ref src/queries.cpp:117-130 reads
    term_id_vec per line; test/test_data/queries is the repo's bundled
    500-query set). Blank lines are skipped. ``vocab_mod`` optionally folds
    the source vocabulary onto a target vocabulary of that size (tid %
    vocab_mod) so a foreign query log can drive an index built over a
    different corpus — the mapping is deterministic and documented
    wherever it is used."""
    out: list[list[int]] = []
    with open(path) as f:
        for line in f:
            parts = line.split()
            if not parts:
                continue
            terms = [int(t) for t in parts]
            if vocab_mod:
                terms = [t % vocab_mod for t in terms]
            out.append(terms)
    return out


def run_queries(
    spark: SparkSession,
    index,
    queries: DataFrame | list,
    algo: str = "block_max_wand",
    k: int = 10,
    dtype: str = "float32",
    df_overrides: dict | None = None,
    idf_docs: int | None = None,
    qpart_mult: int = 2,
    doc_filter: DocMask | None = None,
    avg_len_override: float | None = None,
    weighted: bool = False,
) -> DataFrame:
    """Distributed batch retrieval. queries: DataFrame(query_id, terms
    array<long>) or list[list[int]]. Returns (query_id, rank, doc_id, score).

    ``weighted=True``: queries is a list of [(term_id, weight), ...] lists
    with FLOAT per-term weights replacing the integer qf in the BM25
    query-term weight (qw = w * max(1e-6, idf) * (1+k1)) — the channel
    RM3 query expansion (search.rm3_search) re-queries through. Duplicate
    term ids within one query sum their weights.

    ``avg_len_override``: the CURRENT global average document length when
    it differs from the one baked into this index at build time (an epoch
    built before sharding.append_docs grew the corpus). Norms recompute
    exactly from the raw lens (Index.norm_lens_for) and stored pruning
    bounds inflate by avg_new/avg_old (see build_cursors) so results are
    identical to a fresh build over the grown corpus.

    ``doc_filter``: optional DocMask (build_doc_filter) restricting results
    to eligible docs — filtered search (lang/domain/date/length predicates)
    with corpus-wide BM25 statistics; combined with tombstones into one
    broadcast bitmap.

    ``qpart_mult``: query partitions = defaultParallelism * qpart_mult.
    More partitions bound per-query skew (the unluckiest partition); fewer
    pay less of Spark's fixed per-task cost (~170 ms of python-runner
    machinery per task on this host — scripts/serve_profile.py). The
    round-1 default of 8 (~2-4 queries/task) optimized skew only and left
    >1s of pure task overhead on a 500-query batch; measured best on the
    bench corpus is 1 (500q 2.13 -> 1.02s, 2000q 2.89 -> 1.86s), but 2 is
    the default for skew headroom on head-term-heavy batches (within 15%
    of 1). The steady-state serving path (BroadcastQueryServer) minimizes
    task count via LPT bins instead of hash spreading.
    """
    local_terms = None
    qterms_weighted = None
    if weighted:
        if isinstance(queries, DataFrame):
            raise ValueError("weighted=True takes [(term_id, weight)] lists")
        local_terms = sorted({int(t) for ts in queries for t, _ in ts})
        rows = [(i, int(t), float(w))
                for i, ts in enumerate(queries) for t, w in ts]
        qterms_weighted = (
            spark.createDataFrame(
                rows,
                schema=T.StructType([
                    T.StructField("query_id", T.LongType(), False),
                    T.StructField("term_id", T.LongType(), False),
                    T.StructField("qf", T.DoubleType(), False),
                ]),
            )
            .groupBy("query_id", "term_id")
            .agg(F.sum("qf").alias("qf"))
        )
    elif not isinstance(queries, DataFrame):
        local_terms = sorted({int(t) for ts in queries for t in ts})
        queries = spark.createDataFrame(
            [(i, [int(t) for t in ts]) for i, ts in enumerate(queries)],
            schema=T.StructType([
                T.StructField("query_id", T.LongType(), False),
                T.StructField("terms", T.ArrayType(T.LongType()), False),
            ]),
        )

    DT = np.float32 if dtype == "float32" else np.float64
    num_docs = index.num_docs
    bound_inflate = 1.0
    if avg_len_override is not None:
        norms = index.norm_lens_for(float(avg_len_override), dtype)
        baked = (index.avg_len_f64 if dtype == "float64"
                 else float(index.avg_len))
        ratio = float(avg_len_override) / baked
        if ratio != 1.0:
            # ratio > 1: true weights can exceed stored bounds by up to
            # that factor. ratio < 1: bounds stay valid in real arithmetic,
            # but the norms were recomputed through different f32 roundings
            # than the build saw — keep the 1e-5 margin either way.
            bound_inflate = max(ratio, 1.0) * (1.0 + 1e-5)
    else:
        norms = index.norm_lens if dtype == "float32" else index.norm_lens64
    if avg_len_override is None:
        norm_bc = shared_index_bc(spark, index, f"norms-{dtype}",
                                  lambda: norms)
    else:  # override norms are call-specific: never cache on the index
        norm_bc = spark.sparkContext.broadcast(norms)
    docs_dict_bc = shared_index_bc(spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)
    tomb_bc = _live_bc(spark, index, doc_filter)
    kernel = KERNELS[algo]

    if qterms_weighted is not None:
        qterms = qterms_weighted
    else:
        qterms = (
            queries.select("query_id", F.explode("terms").alias("term_id"))
            .groupBy("query_id", "term_id")
            .agg(F.count("*").alias("qf"))
        )
    # explicit projection: positional indexes carry a pos_payload column
    # that BM25 kernels never read — keep it out of the scan + shuffle
    joined = qterms.join(
        _pruned_segments(index, qterms, local_terms).select(*_BM25_SEG_COLS),
        "term_id")
    # fine-grained explicit hash partitioning on query_id: per-query kernel
    # cost is heavily skewed (head-term queries cost 10-100x tail ones), so
    # a batch of Q queries over only `shuffle.partitions` partitions is
    # bounded by its unluckiest partition. ~2-4 queries per partition keeps
    # every core busy; groupBy reuses this partitioning (no extra exchange),
    # and AQE does not coalesce user-specified repartitions.
    joined = joined.repartition(
        spark.sparkContext.defaultParallelism * qpart_mult, "query_id")

    merge_chunks = algo in ("ranked_and",)
    dfo_bc = (spark.sparkContext.broadcast(df_overrides)
              if df_overrides is not None else None)

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=["query_id", "rank", "doc_id", "score"])
        qid = int(pdf["query_id"].iloc[0])
        cursors = build_cursors(pdf, docs_dict_bc.value, freqs_dict_bc.value,
                                num_docs, DT, merge_chunks=merge_chunks,
                                df_overrides=dfo_bc.value if dfo_bc else None,
                                idf_docs=idf_docs,
                                bound_inflate=bound_inflate)
        topk = kernel(cursors, norm_bc.value, num_docs, k, DT,
                      live=tomb_bc.value if tomb_bc is not None else None)
        return pd.DataFrame(
            {
                "query_id": qid,
                "rank": np.arange(1, len(topk) + 1, dtype=np.int32),
                "doc_id": [d for d, _ in topk],
                "score": [s for _, s in topk],
            }
        )

    return joined.groupBy("query_id").applyInPandas(run_one, schema=TOPK_SCHEMA)


def run_queries_lm(
    spark: SparkSession,
    index,
    queries: list,
    mu: float = 2000.0,
    k: int = 10,
    doc_filter: DocMask | None = None,
    qpart_mult: int = 2,
) -> DataFrame:
    """Query-likelihood ranked retrieval with Dirichlet smoothing — the
    second classical ranking family next to BM25 (Zhai & Lafferty 2001;
    Lucene's LMDirichletSimilarity). No reference counterpart: the
    reference scores BM25 only (include/ds2i/bm25.hpp).

    For docs matching >= 1 query term (rank-equivalent matched-only form):

        S(d) = sum_t qf_t * ln(1 + tf_td / (mu * (cf_t / C)))
             + |q| * ln(mu / (mu + len_d))

    with cf_t the collection frequency of t, C the total token count, and
    |q| = sum of qf over the query's in-index terms. All float64 with the
    exact operation order of the SQL oracle, so quantized ranks agree.

    Execution shape: the same pruned-scan applyInPandas plan as
    run_queries, scored EXHAUSTIVELY into a dense per-shard accumulator
    (the dense-accumulator path of ranked_or) — cf_t comes free from the
    full decode the exhaustive scorer performs anyway, and the raw lens
    array ships instead of BM25 norms (LM needs lengths, not norms).
    WAND-style pruning needs per-term LM upper bounds the index doesn't
    store; at this engine's measured decode rates the exhaustive path is
    the honest default, and the pruned BM25 kernels remain the serving
    path. Tombstones/DocMask compose at selection time with build-time
    collection statistics (the liveDocs stale-stats contract, like BM25).
    """
    local_terms = sorted({int(t) for ts in queries for t in ts})
    qdf = spark.createDataFrame(
        [(i, [int(t) for t in ts]) for i, ts in enumerate(queries)],
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("terms", T.ArrayType(T.LongType()), False),
        ]),
    )
    num_docs = index.num_docs
    lens = index.lens
    c_total = int(lens.sum())
    lens_bc = spark.sparkContext.broadcast(lens)
    docs_dict_bc = shared_index_bc(spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)
    tomb_bc = _live_bc(spark, index, doc_filter)
    mu_f = float(mu)

    qterms = (
        qdf.select("query_id", F.explode("terms").alias("term_id"))
        .groupBy("query_id", "term_id")
        .agg(F.count("*").alias("qf"))
    )
    joined = qterms.join(
        _pruned_segments(index, qterms, local_terms).select(*_BM25_SEG_COLS),
        "term_id")
    joined = joined.repartition(
        spark.sparkContext.defaultParallelism * qpart_mult, "query_id")

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=["query_id", "rank", "doc_id",
                                         "score"])
        qid = int(pdf["query_id"].iloc[0])
        dd, fd = docs_dict_bc.value, freqs_dict_bc.value
        dlen = lens_bc.value
        acc = np.zeros(num_docs, dtype=np.float64)
        matched = np.zeros(num_docs, dtype=bool)
        ql = 0
        for term_id, rows in pdf.groupby("term_id", sort=True):
            qf = int(rows["qf"].iloc[0])
            ql += qf
            parts = []
            for row in rows.sort_values("seg_id").itertuples():
                c = Cursor(row.n, row.block_maxs, row.endpoints,
                           row.freq_offsets, row.payload, num_docs, dd, fd,
                           block_max_scores=row.block_max_scores,
                           term_id=int(term_id))
                parts.append(c.decode_all())
            docs = np.concatenate([p[0] for p in parts])
            frs = np.concatenate([p[1] for p in parts])
            cf = int(frs.sum())
            x = frs.astype(np.float64) / (mu_f * (cf / c_total))
            # a posting list holds each doc once -> fancy += is exact
            acc[docs] += qf * np.log(1.0 + x)
            matched[docs] = True
        live = tomb_bc.value if tomb_bc is not None else None
        if live is not None:
            matched &= live.mask
        cand = np.nonzero(matched)[0]
        scores = acc[cand] + ql * np.log(mu_f / (mu_f + dlen[cand]
                                                 .astype(np.float64)))
        order = np.lexsort((cand, -scores))[:k]
        return pd.DataFrame({
            "query_id": qid,
            "rank": np.arange(1, len(order) + 1, dtype=np.int32),
            "doc_id": cand[order],
            "score": scores[order],
        })

    return joined.groupBy("query_id").applyInPandas(run_one,
                                                    schema=TOPK_SCHEMA)


def _serve_kernel_rows(qid_terms, segs: dict, dd, fd, norm, num_docs: int,
                       DT, algo: str, k: int, live=None,
                       df_overrides: dict | None = None,
                       idf_docs: int | None = None,
                       bound_inflate: float = 1.0) -> list:
    """Run the pinned-segment kernel over (query_id, terms) rows; returns
    (query_id, rank, doc_id, score) tuples. This is the exact worker-side
    body of BroadcastQueryServer.serve — factored out so the bench/profiler
    can time the kernel alone (no Spark) against the same seg map.

    ``df_overrides``/``idf_docs``/``bound_inflate``: the same global-
    statistics channel as build_cursors — sharded/appended serving
    (sharding.ShardedQueryServer) hands every epoch the corpus-wide
    (N, df) and, for epochs whose baked avg_len predates an append, the
    certified pruning-bound inflation (norms are re-pinned at server
    construction)."""
    from collections import Counter

    kernel = KERNELS[algo]
    scale = DT(1.0 + 1e-5) if DT is np.float64 else DT(1.0)
    if bound_inflate != 1.0:
        scale = DT(scale * DT(bound_inflate))
    N = int(idf_docs) if idf_docs is not None else num_docs
    merge_chunks = algo in ("ranked_and",)
    outs = []
    for qid, terms in qid_terms:
        cursors = []
        for tid, qf in sorted(Counter(int(t) for t in terms).items()):
            parts = segs.get(tid)
            if parts is None:
                continue
            df_total = (int(df_overrides[tid]) if df_overrides
                        else sum(p[1] for p in parts))
            qw = _qtw(qf, df_total, N, DT)
            term_cursors = []
            for _, n, bmax, bms, endp, foff, payload, mw in (
                    p[:8] for p in parts):  # pos-pinned servers carry 2 more
                c = Cursor(n, bmax, endp, foff, payload,
                           num_docs, dd, fd,
                           block_max_scores=bms, term_id=tid)
                c.q_weight = qw
                c.bound_scale = scale
                c.max_weight = DT(qw * DT(mw) * c.bound_scale)
                term_cursors.append(c)
            if merge_chunks and len(term_cursors) > 1:
                dec = [c.decode_all() for c in term_cursors]
                a = ArrayCursor(
                    np.concatenate([d[0] for d in dec]),
                    np.concatenate([d[1] for d in dec]),
                    num_docs, tid)
                a.q_weight = qw
                a.bound_scale = scale
                a.max_weight = max(c.max_weight for c in term_cursors)
                term_cursors = [a]
            cursors.extend(term_cursors)
        topk = (kernel(cursors, norm, num_docs, k, DT, live=live)
                if cursors else [])
        for rank, (doc, score) in enumerate(topk, 1):
            outs.append((int(qid), rank, doc, score))
    return outs


class BroadcastQueryServer:
    """Pins the (pruned) segments executor-side ONCE and serves any number
    of query batches against them — the document-partitioned serving
    pattern of web search: each shard holds its doc range's complete index
    in executor memory and every query fans out to all shards, whose local
    exact top-k merge into the global exact top-k. In this engine one
    shard = one index (docid sharding per README "Scale design" gives N
    shards at 10^12 docs); the shuffle-based run_queries remains the path
    for indexes too large to pin in memory. Compared to the join path a
    served batch moves no posting bytes — the join duplicated every
    head-term payload into every query's shuffle group, which dominated
    batch wall time; compared to one-shot run_queries_broadcast the
    collect + broadcast of the segments is paid once at construction, not
    per batch.

    ``terms=None`` pins the whole index (subject to max_broadcast_bytes);
    a term list pins only those terms' segments.
    """

    def __init__(self, spark: SparkSession, index, terms: list | None = None,
                 dtype: str = "float32",
                 max_broadcast_bytes: int = 1 << 29,
                 with_positions: bool = False,
                 df_overrides: dict | None = None,
                 idf_docs: int | None = None,
                 avg_len_override: float | None = None):
        """``df_overrides``/``idf_docs``/``avg_len_override``: global
        statistics for multi-epoch serving (sharding.ShardedQueryServer
        passes them per shard) — same semantics as run_queries. The norm
        array re-pins from raw lens under the override average, and the
        pruning-bound inflation is fixed at construction."""
        if with_positions and not getattr(index, "has_positions", False):
            raise ValueError("with_positions requires an index built with "
                             "IndexConfig(positions=True)")
        if terms is None:
            pruned = index.segments
        else:
            pruned = _pruned_segments(index, None,
                                      sorted({int(t) for t in terms}))
        # size pre-check BEFORE collecting: an oversized term set must raise
        # the intended ValueError, not hit driver maxResultSize/OOM in
        # collect()
        size_expr = F.sum(F.length("payload"))
        if with_positions:
            size_expr = size_expr + F.sum(F.length("pos_payload"))
        est = pruned.agg(
            size_expr.alias("b"), F.count("*").alias("c")
        ).collect()[0]
        total = int(est["b"] or 0) + 200 * int(est["c"] or 0)
        if total > max_broadcast_bytes:
            raise ValueError(
                f"pruned segments ({total} bytes) exceed the broadcast "
                "budget; use run_queries (shuffle path) or shard the index")
        cols = ["term_id", "seg_id", "n", "block_maxs", "block_max_scores",
                "endpoints", "freq_offsets", "payload", "max_weight"]
        if with_positions:
            cols += ["pos_payload", "pos_endpoints"]
        rows = pruned.select(*cols).collect()
        seg_map: dict[int, list] = {}
        for r in rows:
            payload = bytes(r["payload"])
            entry = (
                int(r["seg_id"]),
                int(r["n"]),
                np.asarray(r["block_maxs"], dtype=np.int64),
                np.asarray(r["block_max_scores"], dtype=np.float32),
                np.asarray(r["endpoints"], dtype=np.int64),
                np.asarray(r["freq_offsets"], dtype=np.int64),
                payload,
                float(r["max_weight"]),
            )
            if with_positions:
                entry = entry + (bytes(r["pos_payload"]),
                                 np.asarray(r["pos_endpoints"],
                                            dtype=np.int64))
            seg_map.setdefault(int(r["term_id"]), []).append(entry)
        for parts in seg_map.values():
            parts.sort(key=lambda p: p[0])
        self.with_positions = with_positions
        self.pos_dict_bc = (spark.sparkContext.broadcast(index.pos_dict)
                            if with_positions else None)
        self.spark = spark
        self.dtype = dtype
        self.DT = np.float32 if dtype == "float32" else np.float64
        self.num_docs = index.num_docs
        # driver-side cost proxy for serve()'s balanced bins: per-term
        # posting count (the kernel's dominant cost driver)
        self.term_cost = {tid: sum(p[1] for p in parts)
                          for tid, parts in seg_map.items()}
        self.idf_docs = int(idf_docs) if idf_docs is not None else None
        self.dfo_bc = (spark.sparkContext.broadcast(
            {int(t): int(d) for t, d in df_overrides.items()})
            if df_overrides is not None else None)
        self.bound_inflate = 1.0
        if avg_len_override is not None:
            norms = index.norm_lens_for(float(avg_len_override), dtype)
            baked = (index.avg_len_f64 if dtype == "float64"
                     else float(index.avg_len))
            ratio = float(avg_len_override) / baked
            if ratio != 1.0:
                self.bound_inflate = max(ratio, 1.0) * (1.0 + 1e-5)
        else:
            norms = (index.norm_lens if dtype == "float32"
                     else index.norm_lens64)
        # the server owns its broadcasts (close() unpersists them), so it
        # deliberately does NOT use the shared_index_bc cache
        self.seg_bc = spark.sparkContext.broadcast(seg_map)
        self.norm_bc = spark.sparkContext.broadcast(norms)
        self.docs_dict_bc = spark.sparkContext.broadcast(index.docs_dict)
        self.freqs_dict_bc = spark.sparkContext.broadcast(index.freqs_dict)
        # tombstones snapshot at pin time: later delete_docs calls need a
        # new server (same contract as the pinned segments themselves)
        self.tomb_bc = _tombstones_bc(spark, index)
        # per-filter combined-mask broadcasts, keyed by DocMask identity so
        # a reused filter ships once however many batches it serves
        self._filter_bcs: dict[int, object] = {}

    def _live_for(self, doc_filter: "DocMask | None"):
        """Broadcast for this batch's eligible set: the pin-time tombstones
        when unfiltered, else tombstones AND the DocMask (combined once per
        distinct filter object and cached — steady-state serving reuses a
        handful of long-lived filters across many batches)."""
        if doc_filter is None:
            return self.tomb_bc
        key = id(doc_filter)
        hit = self._filter_bcs.get(key)
        if hit is not None:
            return hit
        if doc_filter.num_docs != self.num_docs:
            raise ValueError(
                f"doc_filter.num_docs={doc_filter.num_docs} != "
                f"server num_docs={self.num_docs}")
        tomb = self.tomb_bc.value if self.tomb_bc is not None else None
        if tomb is not None and len(tomb.ids):
            m = doc_filter.mask.copy()
            m[tomb.ids] = False
            doc_filter = DocMask.from_mask(m)
        bc = self.spark.sparkContext.broadcast(doc_filter)
        self._filter_bcs[key] = bc
        return bc

    def serve(self, queries: list, algo: str = "block_max_wand_vec",
              k: int = 10, partitions: int | None = None,
              doc_filter: "DocMask | None" = None) -> DataFrame:
        """One batch against the pinned segments. Only (query_id, terms)
        rows move; kernels run executor-side against the broadcast.
        ``doc_filter``: optional DocMask applied batch-wide (filtered
        search with corpus-wide statistics); combined with the pin-time
        tombstones and broadcast once per distinct filter object.

        A served batch's wall is dominated by Spark's FIXED per-task cost
        (measured ~170 ms of JVM<->python-runner machinery per mapInPandas
        task on this host, independent of work: an empty 64-task
        mapInPandas costs ~0.7 s warm — scripts/serve_profile.py), so the
        batch runs in the FEWEST tasks that still use every core:
        ``partitions`` defaults to defaultParallelism, and per-query skew
        (head-term queries cost 10-100x tail ones) is handled by explicit
        LPT bin-packing on a driver-side cost model (sum of the query's
        term posting counts — the server already holds per-term n) instead
        of by over-partitioning. Bins ride ONE Arrow batch each: queries
        are laid out bin-contiguously in a pandas frame, padded with
        query_id = -1 sentinel rows (empty term lists emit nothing) so
        every bin is exactly max-bin-size rows, and
        arrow.maxRecordsPerBatch is pinned to that size for the
        createDataFrame — Arrow slicing makes one batch = one partition,
        entirely JVM-side (the previous list-createDataFrame + repartition
        paid a python-runner stage AND a shuffle before any kernel ran).
        Round 2 -> 3 on the 2000q sf0.1 batch: 1,342 -> 2,500-3,900 q/s
        (host-window dependent; kernel-share of wall 0.20 -> 0.29-0.45)."""
        spark = self.spark
        seg_bc, norm_bc = self.seg_bc, self.norm_bc
        docs_dict_bc, freqs_dict_bc = self.docs_dict_bc, self.freqs_dict_bc
        tomb_bc = self._live_for(doc_filter)
        DT, num_docs = self.DT, self.num_docs
        dfo_bc, idf_docs = self.dfo_bc, self.idf_docs
        bound_inflate = self.bound_inflate

        qdf = self._binned_query_df(queries, partitions)
        if qdf is None:
            return spark.createDataFrame([], schema=TOPK_SCHEMA)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            segs = seg_bc.value
            dd = docs_dict_bc.value
            fd = freqs_dict_bc.value
            norm = norm_bc.value
            for pdf in batches:
                outs = _serve_kernel_rows(
                    zip(pdf["query_id"], pdf["terms"]), segs, dd, fd,
                    norm, num_docs, DT, algo, k,
                    live=tomb_bc.value if tomb_bc is not None else None,
                    df_overrides=dfo_bc.value if dfo_bc else None,
                    idf_docs=idf_docs, bound_inflate=bound_inflate)
                if outs:
                    yield pd.DataFrame(
                        outs, columns=["query_id", "rank", "doc_id", "score"])

        return qdf.mapInPandas(run, schema=TOPK_SCHEMA)

    def _binned_query_df(self, queries: list, partitions: int | None):
        """LPT-cost-balanced, one-Arrow-batch-per-bin query DataFrame (the
        serve() layout, see its docstring); None for an empty batch."""
        spark = self.spark
        nparts = partitions or spark.sparkContext.defaultParallelism
        nparts = max(1, min(nparts, max(1, len(queries))))
        costs = [
            sum(self.term_cost.get(int(t), 0) for t in set(map(int, ts)))
            + 64  # per-query fixed work so empty/tail queries still count
            for ts in queries
        ]
        # LPT: heaviest query first onto the lightest bin
        heap = [(0, b) for b in range(nparts)]
        heapq.heapify(heap)
        bins: list[list[int]] = [[] for _ in range(nparts)]
        for i in sorted(range(len(queries)), key=lambda i: -costs[i]):
            load, b = heapq.heappop(heap)
            bins[b].append(i)
            heapq.heappush(heap, (load + costs[i], b))
        m = max((len(b) for b in bins), default=0)
        if m == 0:
            return None
        qids: list[int] = []
        terms_col: list[list[int]] = []
        for b in bins:
            for i in b:
                qids.append(i)
                terms_col.append([int(t) for t in queries[i]])
            qids.extend([-1] * (m - len(b)))
            terms_col.extend([[]] * (m - len(b)))
        pdf_in = pd.DataFrame({
            "query_id": np.asarray(qids, dtype=np.int64),
            "terms": terms_col,
        })
        rec_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old_rec = spark.conf.get(rec_key)
        spark.conf.set(rec_key, str(m))
        try:
            return spark.createDataFrame(
                pdf_in,
                schema=T.StructType([
                    T.StructField("query_id", T.LongType(), False),
                    T.StructField("terms", T.ArrayType(T.LongType()), False),
                ]),
            )
        finally:
            spark.conf.set(rec_key, old_rec)

    def _serve_positional(self, queries: list, kernel_fn,
                          partitions: int | None,
                          doc_filter: "DocMask | None" = None) -> DataFrame:
        """Common served positional path: per query, occurrence keys per
        distinct term from the pinned segments (worker-level _POS_CACHE
        LRU amortizes head terms across the batch and across batches),
        then ``kernel_fn(ord_keys) -> (docs, tfs)``."""
        if not self.with_positions:
            raise ValueError("server was built without with_positions=True")
        spark = self.spark
        seg_bc, pos_dict_bc = self.seg_bc, self.pos_dict_bc
        docs_dict_bc, freqs_dict_bc = self.docs_dict_bc, self.freqs_dict_bc
        tomb_bc = self._live_for(doc_filter)

        qdf = self._binned_query_df(queries, partitions)
        if qdf is None:
            return spark.createDataFrame([], schema=PHRASE_SCHEMA)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            segs = seg_bc.value
            dd, fd = docs_dict_bc.value, freqs_dict_bc.value
            pdict = pos_dict_bc.value
            live = tomb_bc.value if tomb_bc is not None else None
            for pdf in batches:
                out_q, out_d, out_t = [], [], []
                for qid, terms in zip(pdf["query_id"], pdf["terms"]):
                    if qid < 0 or not len(terms):
                        continue
                    keys, absent = {}, False
                    for tid in {int(t) for t in terms}:
                        parts = segs.get(tid)
                        if parts is None:
                            absent = True
                            break
                        # parts are seg_id-sorted disjoint increasing doc
                        # ranges -> the concat is globally sorted
                        per_seg = [
                            _seg_occurrence_keys(
                                tid, p[0], p[1], p[6], p[2], p[4], p[5],
                                p[8], p[9], dd, fd, pdict)
                            for p in parts
                        ]
                        keys[tid] = (per_seg[0] if len(per_seg) == 1
                                     else np.concatenate(per_seg))
                    if absent:
                        continue
                    docs, tfs = kernel_fn([keys[int(t)] for t in terms])
                    if live is not None and len(docs):
                        keep = live.mask[docs]
                        docs, tfs = docs[keep], tfs[keep]
                    if len(docs):
                        out_q.append(np.full(len(docs), int(qid), np.int64))
                        out_d.append(docs)
                        out_t.append(tfs)
                if out_q:
                    yield pd.DataFrame({
                        "query_id": np.concatenate(out_q),
                        "doc_id": np.concatenate(out_d),
                        "phrase_tf": np.concatenate(out_t),
                    })

        return qdf.mapInPandas(run, schema=PHRASE_SCHEMA)

    def serve_phrases(self, phrases: list,
                      partitions: int | None = None,
                      doc_filter: "DocMask | None" = None) -> DataFrame:
        """Exact-phrase retrieval against the pinned positional segments:
        the phrase analogue of serve() — only (query_id, terms) rows move
        per batch, the pos payloads having shipped once at pin time."""
        return self._serve_positional(
            phrases, phrase_match_kernel, partitions, doc_filter)

    def serve_proximity(self, pairs: list, window: int = 8,
                        partitions: int | None = None,
                        doc_filter: "DocMask | None" = None) -> DataFrame:
        """Ordered within-window proximity against the pinned positional
        segments (see serve_phrases)."""
        if any(len(p) != 2 for p in pairs):
            raise ValueError("proximity queries are ordered term PAIRS")
        return self._serve_positional(
            pairs,
            lambda ks: proximity_pair_kernel(ks[0], ks[1], window),
            partitions, doc_filter)

    def serve_phrases_ranked(self, phrases: list, k: int = 10,
                             partitions: int | None = None,
                             doc_filter: "DocMask | None" = None
                             ) -> DataFrame:
        """BM25-ranked phrase search against the pinned positional
        segments: match on the exact phrase, rank matches by the BM25
        score of the phrase's terms (run_phrase_queries_ranked semantics).
        Occurrence keys and full posting decodes both ride the worker
        LRUs, so head phrase terms amortize across batches."""
        if not self.with_positions:
            raise ValueError("server was built without with_positions=True")
        from collections import Counter

        spark = self.spark
        seg_bc, pos_dict_bc = self.seg_bc, self.pos_dict_bc
        docs_dict_bc, freqs_dict_bc = self.docs_dict_bc, self.freqs_dict_bc
        norm_bc = self.norm_bc
        tomb_bc = self._live_for(doc_filter)
        DT, num_docs = self.DT, self.num_docs

        qdf = self._binned_query_df(phrases, partitions)
        if qdf is None:
            return spark.createDataFrame([], schema=TOPK_SCHEMA)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            segs = seg_bc.value
            dd, fd = docs_dict_bc.value, freqs_dict_bc.value
            pdict = pos_dict_bc.value
            norm = norm_bc.value
            live = tomb_bc.value if tomb_bc is not None else None
            for pdf in batches:
                outs = []
                for qid, terms in zip(pdf["query_id"], pdf["terms"]):
                    if qid < 0 or not len(terms):
                        continue
                    phrase = [int(t) for t in terms]
                    keys, absent = {}, False
                    for tid in set(phrase):
                        parts = segs.get(tid)
                        if parts is None:
                            absent = True
                            break
                        per_seg = [
                            _seg_occurrence_keys(
                                tid, p[0], p[1], p[6], p[2], p[4], p[5],
                                p[8], p[9], dd, fd, pdict)
                            for p in parts
                        ]
                        keys[tid] = (per_seg[0] if len(per_seg) == 1
                                     else np.concatenate(per_seg))
                    if absent:
                        continue
                    docs, _tfs = phrase_match_kernel(
                        [keys[t] for t in phrase])
                    if live is not None and len(docs):
                        docs = docs[live.mask[docs]]
                    if not len(docs):
                        continue
                    counts = Counter(phrase)
                    infos = []
                    for tid in sorted(counts):
                        parts = segs[tid]
                        df_total = sum(p[1] for p in parts)
                        dec = []
                        for p in parts:
                            c = Cursor(p[1], p[2], p[4], p[5], p[6],
                                       num_docs, dd, fd, term_id=tid)
                            dec.append(_cached_full_decode(c))
                        dl = (dec[0][0] if len(dec) == 1
                              else np.concatenate([d[0] for d in dec]))
                        fl = (dec[0][1] if len(dec) == 1
                              else np.concatenate([d[1] for d in dec]))
                        infos.append((counts[tid], df_total, dl, fl))
                    score = _bm25_score_matched(docs, infos, norm,
                                                num_docs, DT)
                    order = np.lexsort((docs, -score))[:k]
                    for rank, i in enumerate(order, 1):
                        outs.append((int(qid), rank, int(docs[i]),
                                     float(score[i])))
                if outs:
                    yield pd.DataFrame(
                        outs, columns=["query_id", "rank", "doc_id",
                                       "score"])

        return qdf.mapInPandas(run, schema=TOPK_SCHEMA)

    def close(self) -> None:
        """Release the pinned broadcasts (call after all served DataFrames
        have been consumed — Spark broadcasts are lazy-referenced)."""
        for bc in (self.seg_bc, self.norm_bc, self.docs_dict_bc,
                   self.freqs_dict_bc, self.tomb_bc, self.pos_dict_bc,
                   *self._filter_bcs.values()):
            try:
                bc is not None and bc.unpersist()
            except Exception:
                pass


def run_queries_broadcast(
    spark: SparkSession,
    index,
    queries: list,
    algo: str = "block_max_wand_vec",
    k: int = 10,
    dtype: str = "float32",
    max_broadcast_bytes: int = 1 << 29,
) -> DataFrame:
    """One-shot convenience wrapper: pin the batch's terms and serve it.
    For steady-state serving construct a BroadcastQueryServer once and call
    serve() per batch — the segment collect/broadcast then amortizes."""
    srv = BroadcastQueryServer(
        spark, index,
        terms=sorted({int(t) for ts in queries for t in ts}),
        dtype=dtype, max_broadcast_bytes=max_broadcast_bytes)
    return srv.serve(queries, algo=algo, k=k)


LATENCY_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("run", T.IntegerType(), False),
    T.StructField("usecs", T.DoubleType(), False),
])


def query_latency_stats(spark: SparkSession, index, queries: list,
                        algo: str = "block_max_wand", k: int = 10,
                        runs: int = 3, dtype: str = "float32",
                        max_broadcast_bytes: int = 1 << 29) -> dict:
    """The reference's per-query latency protocol (src/queries.cpp:25-60):
    each query op (cursor setup + kernel) executes ``runs + 1`` times
    worker-side against pinned segments; the first run is warmup (fills
    the decode LRU, exactly the reference's untimed first pass) and the
    rest are timed in microseconds. Returns {"avg_us", "q50_us", "q90_us",
    "q95_us", "n"} over all timed (query, run) samples — the avg/quantile
    report of queries.cpp:45-60."""
    import time as _time

    srv = BroadcastQueryServer(
        spark, index,
        terms=sorted({int(t) for ts in queries for t in ts}),
        dtype=dtype, max_broadcast_bytes=max_broadcast_bytes)
    seg_bc, norm_bc = srv.seg_bc, srv.norm_bc
    docs_dict_bc, freqs_dict_bc = srv.docs_dict_bc, srv.freqs_dict_bc
    tomb_bc = srv.tomb_bc
    DT, num_docs = srv.DT, srv.num_docs
    kernel = KERNELS[algo]

    qdf = spark.createDataFrame(
        [(i, [int(t) for t in ts]) for i, ts in enumerate(queries)],
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("terms", T.ArrayType(T.LongType()), False),
        ]),
    ).repartition(spark.sparkContext.defaultParallelism * 4)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from collections import Counter

        segs = seg_bc.value
        dd = docs_dict_bc.value
        fd = freqs_dict_bc.value
        norm = norm_bc.value
        scale = DT(1.0 + 1e-5) if DT is np.float64 else DT(1.0)

        def one_op(terms):
            # the full query op, reference-style: cursor setup + kernel
            cursors = []
            for tid, qf in sorted(Counter(int(t) for t in terms).items()):
                parts = segs.get(tid)
                if parts is None:
                    continue
                df_total = sum(p[1] for p in parts)
                qw = _qtw(qf, df_total, num_docs, DT)
                for _, n, bmax, bms, endp, foff, payload, mw in (
                        p[:8] for p in parts):
                    c = Cursor(n, bmax, endp, foff, payload, num_docs,
                               dd, fd, block_max_scores=bms, term_id=tid)
                    c.q_weight = qw
                    c.bound_scale = scale
                    c.max_weight = DT(qw * DT(mw) * c.bound_scale)
                    cursors.append(c)
            return (kernel(cursors, norm, num_docs, k, DT,
                           live=tomb_bc.value if tomb_bc is not None
                           else None)
                    if cursors else [])

        for pdf in batches:
            outs = []
            for qid, terms in zip(pdf["query_id"], pdf["terms"]):
                one_op(terms)  # run 0: warmup, untimed (queries.cpp:32-34)
                for r in range(1, runs + 1):
                    t0 = _time.perf_counter()
                    one_op(terms)
                    el = (_time.perf_counter() - t0) * 1e6
                    outs.append((int(qid), r, el))
            if outs:
                yield pd.DataFrame(outs,
                                   columns=["query_id", "run", "usecs"])

    samples = qdf.mapInPandas(run, schema=LATENCY_SCHEMA).toPandas()
    us = np.sort(samples["usecs"].to_numpy())
    return {
        "avg_us": float(us.mean()),
        "q50_us": float(np.quantile(us, 0.50)),
        "q90_us": float(np.quantile(us, 0.90)),
        "q95_us": float(np.quantile(us, 0.95)),
        "n": int(len(us)),
    }


def _pruned_segments(index, qterms: DataFrame,
                     local_terms: list[int] | None = None) -> DataFrame:
    """Push the batch's touched term_ids INTO the parquet scan.

    The qterms side is broadcast in the join, so without this the segments
    scan reads the entire index. Segments are term-sorted parquet, so an
    explicit IN-filter prunes to the touched row groups (the Spark analogue
    of the reference's Elias-Fano endpoint random access,
    dict_freq_index.hpp:174-181). The distinct-term collect is tiny (bounded
    by the query batch's vocabulary). Batches touching >100k distinct terms
    get bucket-level PARTITION pruning instead (segments are laid out as
    bucket=K term-range dirs): the filter expression stays small and only
    the touched term-range partitions are listed/scanned — no full-index
    fallback."""
    terms = (
        local_terms
        if local_terms is not None
        else [r["term_id"] for r in qterms.select("term_id").distinct().collect()]
    )
    if not terms:
        return index.segments
    if len(terms) <= 100_000:
        return index.segments.where(F.col("term_id").isin(terms))
    tpb = index.terms_per_bucket
    buckets = sorted({int(t) // tpb for t in terms})
    return index.segments.where(F.col("bucket").isin(buckets))


BOOL_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
    ]
)


def run_boolean_queries(
    spark: SparkSession, index, queries, mode: str = "and",
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Boolean AND (leapfrog intersection) / OR (k-way union) / AND-NOT
    (MUST terms minus MUST_NOT terms) over the compressed index; returns
    (query_id, doc_id). (ref queries.hpp:34-130; AND-NOT has no reference
    counterpart — Lucene MUST/MUST_NOT scope.)

    ``queries``: for "and"/"or", a list of term-id lists (or a DataFrame
    (query_id, terms)); for "and_not", a list of (pos_terms, neg_terms)
    pairs. A term that appears on both sides of one query excludes every
    match (x AND NOT x = empty), matching the SQL semantics.
    ``doc_filter``: optional DocMask restricting results (see run_queries)."""
    local_terms = None
    if mode == "and_not":
        if isinstance(queries, DataFrame):
            raise ValueError("and_not takes (pos_terms, neg_terms) pairs")
        local_terms = sorted({int(t) for pos, neg in queries
                              for t in list(pos) + list(neg)})
        rows = [(i, [int(t) for t in pos], [int(t) for t in neg])
                for i, (pos, neg) in enumerate(queries)]
        queries = spark.createDataFrame(
            rows,
            schema=T.StructType([
                T.StructField("query_id", T.LongType(), False),
                T.StructField("terms", T.ArrayType(T.LongType()), False),
                T.StructField("neg_terms", T.ArrayType(T.LongType()), False),
            ]),
        )
    elif not isinstance(queries, DataFrame):
        local_terms = sorted({int(t) for ts in queries for t in ts})
        queries = spark.createDataFrame(
            [(i, [int(t) for t in ts]) for i, ts in enumerate(queries)],
            schema=T.StructType([
                T.StructField("query_id", T.LongType(), False),
                T.StructField("terms", T.ArrayType(T.LongType()), False),
            ]),
        )
    num_docs = index.num_docs
    docs_dict_bc = shared_index_bc(spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)
    tomb_bc = _live_bc(spark, index, doc_filter)

    if mode == "and_not":
        pos = queries.select(
            "query_id", F.explode("terms").alias("term_id")
        ).withColumn("neg", F.lit(False))
        neg = queries.select(
            "query_id", F.explode("neg_terms").alias("term_id")
        ).withColumn("neg", F.lit(True))
        qterms = (
            pos.unionByName(neg)
            .groupBy("query_id", "term_id", "neg")
            .agg(F.count("*").alias("qf"))
        )
    else:
        qterms = (
            queries.select("query_id", F.explode("terms").alias("term_id"))
            .groupBy("query_id", "term_id")
            .agg(F.count("*").alias("qf"))
        )
    joined = qterms.join(
        _pruned_segments(index, qterms, local_terms).select(*_BM25_SEG_COLS),
        "term_id")
    fn = boolean_and if mode == "and" else boolean_or

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=["query_id", "doc_id"])
        qid = int(pdf["query_id"].iloc[0])
        live = tomb_bc.value if tomb_bc is not None else None
        if mode == "and_not":
            pos_pdf = pdf[~pdf["neg"]]
            neg_pdf = pdf[pdf["neg"]]
            if not len(pos_pdf):
                return pd.DataFrame(columns=["query_id", "doc_id"])
            cursors = build_cursors(
                pos_pdf, docs_dict_bc.value, freqs_dict_bc.value,
                num_docs, merge_chunks=True)
            neg_cursors = build_cursors(
                neg_pdf, docs_dict_bc.value, freqs_dict_bc.value,
                num_docs, merge_chunks=True) if len(neg_pdf) else []
            docs = boolean_and_not(cursors, neg_cursors, num_docs, live=live)
        else:
            cursors = build_cursors(
                pdf, docs_dict_bc.value, freqs_dict_bc.value,
                num_docs, merge_chunks=(mode == "and"))
            docs = fn(cursors, num_docs, live=live)
        return pd.DataFrame({"query_id": qid, "doc_id": docs})

    return joined.groupBy("query_id").applyInPandas(run_one, schema=BOOL_SCHEMA)


# ---------------------------------------------------------------------------
# positional retrieval: phrase matching over the pos stream
# ---------------------------------------------------------------------------

PHRASE_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("phrase_tf", T.LongType(), False),
    ]
)

# occurrence key = doc_id * 2^32 + position (u64: shard-local docids are
# u32 by the codec domain, positions bounded by doc length)
_POS_SHIFT = np.uint64(32)

# phrase-path decode LRU (entry-count bounded; separate from the posting
# _LIST_CACHE so the hot BM25 path's byte accounting stays untouched)
_POS_CACHE: OrderedDict = OrderedDict()
_POS_CACHE_ENTRIES = 256


def _seg_occurrence_keys(term_id: int, seg_id: int, n: int, payload,
                         block_maxs, endpoints, freq_offsets, pos_payload,
                         pos_endpoints, docs_dict, freqs_dict, pos_dict
                         ) -> np.ndarray:
    """Sorted u64 (doc<<32|pos) occurrence keys of ONE segment chunk row,
    via the worker-level positional decode LRU (shared by the shuffle and
    the served phrase paths)."""
    from dint_spark.dint.codec import (decode_list_bulk, decode_value_stream,
                                       gaps_to_positions)

    ckey = (int(term_id), int(seg_id), int(n),
            len(pos_payload), hash(bytes(pos_payload)),
            _dict_token(docs_dict), _dict_token(pos_dict))
    hit = _POS_CACHE.get(ckey)
    if hit is not None:
        _POS_CACHE.move_to_end(ckey)
        return hit
    docs, freqs = decode_list_bulk(
        payload, int(n),
        np.asarray(block_maxs, dtype=np.int64),
        np.asarray(endpoints, dtype=np.int64),
        np.asarray(freq_offsets, dtype=np.int64),
        docs_dict, freqs_dict)
    npos = int(freqs.sum())
    vals = decode_value_stream(
        pos_payload, npos,
        np.asarray(pos_endpoints, dtype=np.int64), pos_dict)
    pos = gaps_to_positions(vals, freqs)
    keys = (np.repeat(docs, freqs).astype(np.uint64)
            << _POS_SHIFT) | pos.astype(np.uint64)
    _POS_CACHE[ckey] = keys
    while len(_POS_CACHE) > _POS_CACHE_ENTRIES:
        _POS_CACHE.popitem(last=False)
    return keys


def _term_occurrence_keys(rows: pd.DataFrame, docs_dict, freqs_dict,
                          pos_dict) -> np.ndarray:
    """Sorted u64 (doc<<32|pos) occurrence keys of ONE term, concatenated
    across its segment chunk rows (seg order = disjoint increasing doc
    ranges, so the concatenation is globally sorted)."""
    parts = []
    for row in rows.sort_values("seg_id").itertuples():
        parts.append(_seg_occurrence_keys(
            row.term_id, row.seg_id, row.n, row.payload, row.block_maxs,
            row.endpoints, row.freq_offsets, row.pos_payload,
            row.pos_endpoints, docs_dict, freqs_dict, pos_dict))
    if not parts:
        return np.empty(0, dtype=np.uint64)
    return parts[0] if len(parts) == 1 else np.concatenate(parts)


def phrase_match_kernel(term_keys: list[np.ndarray]
                        ) -> tuple[np.ndarray, np.ndarray]:
    """Exact-phrase matching as a chain of sorted-set intersections.

    term_keys[i] holds term i's sorted (doc<<32|pos) occurrence keys. A
    phrase occurrence at start p satisfies key_i == key_0 + i for every i,
    so K := keys_0; K := intersect(K + 1, keys_i) walks the phrase left to
    right — each step one linear merge of two sorted arrays, no per-doc
    loops, overlapping occurrences counted exactly. The +i never escapes
    the doc's key range (positions are < doc length << 2^32). Returns
    (doc_ids, phrase_tf) over matching docs, doc_id ascending."""
    K = term_keys[0]
    for nxt in term_keys[1:]:
        if not len(K):
            break
        K = np.intersect1d(K + np.uint64(1), nxt, assume_unique=True)
    docs = (K >> _POS_SHIFT).astype(np.int64)
    d, c = np.unique(docs, return_counts=True)
    return d, c.astype(np.int64)


def proximity_pair_kernel(keys_a: np.ndarray, keys_b: np.ndarray,
                          window: int) -> tuple[np.ndarray, np.ndarray]:
    """Ordered within-window pair matching: occurrences of term B in
    (pos_A, pos_A + window] of the same doc, counted per doc.

    Two searchsorted sweeps over B's sorted keys give, for every A
    occurrence, the count of B occurrences in its forward window — the
    (doc<<32|pos) key encoding makes the doc-boundary check implicit
    (a window can only escape its doc past position 2^32 - window, far
    beyond any document length). Returns (doc_ids, pair_count)."""
    if not len(keys_a) or not len(keys_b):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    w = np.uint64(window)
    lo = np.searchsorted(keys_b, keys_a + np.uint64(1), side="left")
    hi = np.searchsorted(keys_b, keys_a + w, side="right")
    cnt = (hi - lo).astype(np.int64)
    m = cnt > 0
    if not m.any():
        return np.empty(0, np.int64), np.empty(0, np.int64)
    docs_a = (keys_a[m] >> _POS_SHIFT).astype(np.int64)
    d, inv = np.unique(docs_a, return_inverse=True)
    sums = np.zeros(len(d), dtype=np.int64)
    np.add.at(sums, inv, cnt[m])
    return d, sums


def run_proximity_queries(spark: SparkSession, index, pairs: list,
                          window: int = 8,
                          doc_filter: DocMask | None = None) -> DataFrame:
    """Distributed ordered-proximity retrieval: for each (t1, t2) query,
    docs where t2 occurs within ``window`` tokens AFTER an occurrence of
    t1, with the exact ordered-pair count. Same plan shape and decode LRU
    as run_phrase_queries. Returns (query_id, doc_id, phrase_tf) —
    phrase_tf = the pair count (schema shared with the phrase op)."""
    if not getattr(index, "has_positions", False):
        raise ValueError("run_proximity_queries requires an index built "
                         "with IndexConfig(positions=True)")
    if any(len(p) != 2 for p in pairs):
        raise ValueError("proximity queries are ordered term PAIRS")
    local_terms = sorted({int(t) for ts in pairs for t in ts})
    qdf = spark.createDataFrame(
        [(i, [int(t) for t in ts]) for i, ts in enumerate(pairs)],
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("terms", T.ArrayType(T.LongType()), False),
        ]),
    )
    qterms = qdf.select(
        "query_id", F.posexplode("terms").alias("ord", "term_id"))
    segs = _pruned_segments(index, qterms, local_terms).select(
        "term_id", "seg_id", "n", "block_maxs", "endpoints", "freq_offsets",
        "payload", "pos_payload", "pos_endpoints")
    joined = qterms.join(segs, "term_id").repartition(
        spark.sparkContext.defaultParallelism * 2, "query_id")

    docs_dict_bc = shared_index_bc(spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)
    pos_dict_bc = spark.sparkContext.broadcast(index.pos_dict)
    tomb_bc = _live_bc(spark, index, doc_filter)

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=["query_id", "doc_id", "phrase_tf"])
        qid = int(pdf["query_id"].iloc[0])
        dd, fd, pdict = (docs_dict_bc.value, freqs_dict_bc.value,
                         pos_dict_bc.value)
        by_term = {
            int(tid): _term_occurrence_keys(
                rows.drop_duplicates(subset=["seg_id"]), dd, fd, pdict)
            for tid, rows in pdf.groupby("term_id")
        }
        ords = pdf[["ord", "term_id"]].drop_duplicates().sort_values("ord")
        if len(ords) < 2:
            return pd.DataFrame(columns=["query_id", "doc_id", "phrase_tf"])
        a, b = (by_term[int(t)] for t in ords["term_id"])
        docs, cnts = proximity_pair_kernel(a, b, window)
        if tomb_bc is not None and len(docs):
            keep = tomb_bc.value.mask[docs]
            docs, cnts = docs[keep], cnts[keep]
        return pd.DataFrame(
            {"query_id": qid, "doc_id": docs, "phrase_tf": cnts})

    return joined.groupBy("query_id").applyInPandas(run_one,
                                                    schema=PHRASE_SCHEMA)


KWIC_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("pos", T.LongType(), False),
    ]
)


def run_kwic_queries(spark: SparkSession, index, docs: DataFrame,
                     terms: list, width: int = 3) -> DataFrame:
    """Keyword-in-context snippet extraction (search-result presentation):
    for each queried term, every matching doc's FIRST occurrence position
    from the positional index, joined back to the source documents for the
    ±``width`` token window around it.

    ``docs``: DataFrame with (doc_id, text) — the corpus the index was
    built from. Returns (query_id, doc_id, pos, snippet). Plan shape: the
    occurrence pass is the phrase path's pruned scan + one applyInPandas
    group per term (only (query, doc, pos) rows leave the workers); the
    snippet pass is ONE hash join of those hit rows against the documents
    table, with tokenization and the window slice computed JVM-side on the
    joined (= matched-docs-only) stream — no text ever enters Python.
    Tombstoned docs are excluded like every other retrieval path."""
    from dint_spark.tokenizer import tokenize

    if not getattr(index, "has_positions", False):
        raise ValueError("run_kwic_queries requires an index built with "
                         "IndexConfig(positions=True)")
    local_terms = sorted({int(t) for t in terms})
    qdf = spark.createDataFrame(
        [(i, int(t)) for i, t in enumerate(terms)],
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("term_id", T.LongType(), False),
        ]),
    )
    segs = _pruned_segments(index, qdf, local_terms).select(
        "term_id", "seg_id", "n", "block_maxs", "endpoints", "freq_offsets",
        "payload", "pos_payload", "pos_endpoints")
    joined = qdf.join(segs, "term_id").repartition(
        spark.sparkContext.defaultParallelism * 2, "query_id")

    docs_dict_bc = shared_index_bc(spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)
    pos_dict_bc = spark.sparkContext.broadcast(index.pos_dict)
    tomb_bc = _tombstones_bc(spark, index)

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=["query_id", "doc_id", "pos"])
        qid = int(pdf["query_id"].iloc[0])
        keys = _term_occurrence_keys(
            pdf.drop_duplicates(subset=["seg_id"]), docs_dict_bc.value,
            freqs_dict_bc.value, pos_dict_bc.value)
        d = (keys >> _POS_SHIFT).astype(np.int64)
        p = (keys & np.uint64(0xFFFFFFFF)).astype(np.int64)
        docs_u, first = np.unique(d, return_index=True)  # keys sorted ->
        pos_u = p[first]                                 # first occurrence
        if tomb_bc is not None and len(docs_u):
            keep = tomb_bc.value.mask[docs_u]
            docs_u, pos_u = docs_u[keep], pos_u[keep]
        return pd.DataFrame(
            {"query_id": qid, "doc_id": docs_u, "pos": pos_u})

    occ = joined.groupBy("query_id").applyInPandas(run_one,
                                                   schema=KWIC_SCHEMA)
    hit_docs = tokenize(occ.join(docs.select("doc_id", "text"), "doc_id"))
    lo = F.greatest(F.col("pos") + 1 - width, F.lit(1))
    return hit_docs.select(
        "query_id", "doc_id", "pos",
        F.concat_ws(" ", F.slice(
            "tokens", lo, F.col("pos") + 1 + width - lo + 1)).alias("snippet"),
    )


HIGHLIGHT_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("start", T.LongType(), False),
    T.StructField("n_terms", T.IntegerType(), False),
    T.StructField("n_hits", T.IntegerType(), False),
])


def run_highlight_queries(spark: SparkSession, index, docs: DataFrame,
                          queries: list, k: int = 10, width: int = 8,
                          algo: str = "block_max_wand_vec",
                          dtype: str = "float64",
                          quant: float = 1e9) -> DataFrame:
    """Multi-term best-fragment highlighting — the Lucene (unified)
    highlighter contract generalizing run_kwic_queries from
    first-occurrence-of-one-term to best-window-of-a-query: per query,
    retrieve the top-``k`` docs (BM25, floor(score*quant) integer
    selection — the paging/bool reproducibility contract), then for each
    hit pick the ``width``-token window covering the MOST DISTINCT query
    terms (ties: most total occurrences, then smallest start). Candidate
    windows anchor at query-term occurrences [p, p+width) — the optimal
    window is always anchored at one, so the scan is exact.

    Returns (query_id, rank, doc_id, score_q, start, n_terms, n_hits,
    snippet), one row per hit. Plan shape: retrieval is the standard
    kernel; the occurrence pass rides the phrase path's pruned positional
    scan with one applyInPandas group per query (the per-term decode LRU
    amortizes head terms), restricted to the |Q| x k candidate docs
    BEFORE any window work — at any corpus size the window scan touches
    only result-page docs, the cost class of rendering the page. The
    snippet slice is JVM-side on the hit-joined documents stream (no
    text enters Python). No reference counterpart (the reference stops
    at ranked retrieval); Lucene parity scope."""
    from dint_spark.tokenizer import tokenize

    if not getattr(index, "has_positions", False):
        raise ValueError("run_highlight_queries requires an index built "
                         "with IndexConfig(positions=True)")
    # ---- retrieval: quantized-integer top-k (fetch deep, re-rank) ----------
    raw = run_queries(spark, index, queries, algo=algo, k=max(10 * k, k),
                      dtype=dtype)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id"))
    cand = (raw.withColumn(
                "score_q", F.floor(F.col("score") * quant).cast("long"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("rank").cast("int").alias("rank"),
                    "doc_id", "score_q"))
    cand_rows = cand.collect()  # |Q| x k rows — driver-tiny by contract
    cand_map: dict[int, np.ndarray] = {}
    for r in cand_rows:
        cand_map.setdefault(int(r["query_id"]), []).append(int(r["doc_id"]))
    cand_map = {q: np.sort(np.asarray(d, dtype=np.int64))
                for q, d in cand_map.items()}

    # ---- occurrences of the query's DISTINCT terms in candidate docs -------
    qt_rows = sorted({(qid, int(t)) for qid, ts in enumerate(queries)
                      for t in ts})
    local_terms = sorted({t for _, t in qt_rows})
    qdf = spark.createDataFrame(
        qt_rows,
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("term_id", T.LongType(), False),
        ]))
    segs = _pruned_segments(index, qdf, local_terms).select(
        "term_id", "seg_id", "n", "block_maxs", "endpoints", "freq_offsets",
        "payload", "pos_payload", "pos_endpoints")
    joined = qdf.join(segs, "term_id").repartition(
        spark.sparkContext.defaultParallelism * 2, "query_id")
    docs_dict_bc = shared_index_bc(spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)
    pos_dict_bc = spark.sparkContext.broadcast(index.pos_dict)
    cand_bc = spark.sparkContext.broadcast(cand_map)
    W = int(width)

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["query_id", "doc_id", "start", "n_terms", "n_hits"]
        if not len(pdf):
            return pd.DataFrame(columns=cols)
        qid = int(pdf["query_id"].iloc[0])
        cdocs = cand_bc.value.get(qid)
        if cdocs is None or not len(cdocs):
            return pd.DataFrame(columns=cols)
        key_parts, term_parts = [], []
        for tid, sub in pdf.groupby("term_id"):
            keys = _term_occurrence_keys(
                sub.drop_duplicates(subset=["seg_id"]),
                docs_dict_bc.value, freqs_dict_bc.value, pos_dict_bc.value)
            if not len(keys):
                continue
            # keep only candidate docs: each doc's keys are one
            # contiguous sorted run [doc<<32, (doc+1)<<32)
            lo = np.searchsorted(keys, cdocs.astype(np.uint64) << _POS_SHIFT)
            hi = np.searchsorted(
                keys, (cdocs + 1).astype(np.uint64) << _POS_SHIFT)
            take = np.concatenate(
                [np.arange(a, b) for a, b in zip(lo, hi)]) \
                if len(cdocs) else np.empty(0, dtype=np.int64)
            if not len(take):
                continue
            key_parts.append(keys[take])
            term_parts.append(np.full(len(take), int(tid), dtype=np.int64))
        if not key_parts:
            return pd.DataFrame(columns=cols)
        keys = np.concatenate(key_parts)
        terms_l = np.concatenate(term_parts)
        order = np.argsort(keys, kind="stable")
        keys, terms_l = keys[order], terms_l[order]
        d = (keys >> _POS_SHIFT).astype(np.int64)
        p = (keys & np.uint64(0xFFFFFFFF)).astype(np.int64)
        out = []
        doc_starts = np.r_[0, np.flatnonzero(np.diff(d)) + 1, len(d)]
        for s, e in zip(doc_starts[:-1], doc_starts[1:]):
            pos, tl = p[s:e], terms_l[s:e]
            ends = np.searchsorted(pos, pos + W)
            best = (-1, -1, 1)
            for i in range(len(pos)):
                j = int(ends[i])
                nt = len(set(tl[i:j].tolist()))
                score = (nt, j - i, -int(pos[i]))
                if score > best:
                    best = score
            out.append((qid, int(d[s]), -best[2], best[0], best[1]))
        return pd.DataFrame(out, columns=cols)

    hl = joined.groupBy("query_id").applyInPandas(run_one, HIGHLIGHT_SCHEMA)
    hit_docs = tokenize(
        hl.join(cand, ["query_id", "doc_id"])
          .join(docs.select("doc_id", "text"), "doc_id"))
    return hit_docs.select(
        "query_id", "rank", "doc_id", "score_q", "start",
        "n_terms", "n_hits",
        F.concat_ws(" ", F.slice("tokens", F.col("start") + 1, W))
        .alias("snippet"))


def span_near_kernel(term_keys: list[np.ndarray], slop: int
                     ) -> tuple[np.ndarray, np.ndarray]:
    """Ordered span matching with slop (the ES/Lucene ``span_near``
    in_order=true contract over single-term clauses): a span starts at
    an occurrence p of term 1 and GREEDILY chains to the earliest
    occurrence of each next term strictly after the previous one; the
    start matches iff the chain stays in the doc and its total
    intervening slack (end - start - (k-1)) is <= ``slop``. Greedy
    minimal ends make the match set well-defined and deterministic
    (the earliest completion minimizes the slack, so greedy is exact).

    term_keys[i]: term i's sorted (doc<<32|pos) occurrence keys. Each
    chain step is ONE searchsorted over the next term's keys — no
    per-doc loops; slop never escapes the doc because positions are
    < 2^32. Returns (doc_ids, span_counts) over matching docs."""
    K0 = term_keys[0]
    K = K0
    ok = np.ones(len(K0), dtype=bool)
    for nxt in term_keys[1:]:
        idx = np.searchsorted(nxt, K, side="right")
        valid = idx < len(nxt)
        ok &= valid
        K = nxt[np.minimum(idx, len(nxt) - 1)]
    k = len(term_keys)
    same_doc = (K >> _POS_SHIFT) == (K0 >> _POS_SHIFT)
    slack = (K & np.uint64(0xFFFFFFFF)).astype(np.int64) \
        - (K0 & np.uint64(0xFFFFFFFF)).astype(np.int64) - (k - 1)
    hit = ok & same_doc & (slack <= slop)
    docs = (K0[hit] >> _POS_SHIFT).astype(np.int64)
    d, c = np.unique(docs, return_counts=True)
    return d, c.astype(np.int64)


def span_near_unordered_kernel(term_keys: list[np.ndarray], slop: int
                               ) -> tuple[np.ndarray, np.ndarray]:
    """UNORDERED span matching with slop (ES ``span_near`` with
    ``in_order: false`` over single-term clauses): a span starts at ANY
    query-term occurrence p; its minimal enclosing window is
    [p, max_t(first occurrence of term t at pos >= p)], and the start
    matches iff every term occurs at or after p in the doc and the
    window's slack (end - p - (k-1)) is <= ``slop``. Per-start minimal
    windows make the count well-defined and deterministic. One
    searchsorted per term over the start union — no per-doc loops.
    Returns (doc_ids, span_counts)."""
    starts = term_keys[0] if len(term_keys) == 1 else np.unique(
        np.concatenate(term_keys))
    end = starts
    ok = np.ones(len(starts), dtype=bool)
    for keys in term_keys:
        idx = np.searchsorted(keys, starts, side="left")
        valid = idx < len(keys)
        ok &= valid
        e = keys[np.minimum(idx, len(keys) - 1)]
        # the term's first occurrence >= start must be in the SAME doc
        ok &= (e >> _POS_SHIFT) == (starts >> _POS_SHIFT)
        end = np.maximum(end, e)
    k = len(term_keys)
    slack = (end & np.uint64(0xFFFFFFFF)).astype(np.int64) \
        - (starts & np.uint64(0xFFFFFFFF)).astype(np.int64) - (k - 1)
    hit = ok & (slack <= slop)
    docs = (starts[hit] >> _POS_SHIFT).astype(np.int64)
    d, c = np.unique(docs, return_counts=True)
    return d, c.astype(np.int64)


def run_span_near_queries(spark: SparkSession, index, phrases: list,
                          slop: int = 2, in_order: bool = True,
                          doc_filter: DocMask | None = None) -> DataFrame:
    """Distributed span_near retrieval over a positional index (the ES
    ``span_near`` query over single-term clauses — between exact phrase
    (slop=0 on consecutive terms is stricter: it also forbids gaps
    INSIDE the window) and bag-of-words). ``in_order=True`` chains
    greedily in phrase order (span_near_kernel); ``in_order=False``
    takes the minimal enclosing window per start over any order
    (span_near_unordered_kernel).

    ``phrases``: term_id sequences. Returns (query_id, doc_id, n_spans)
    for every doc containing all terms within total slack ``slop``.
    Plan shape identical to run_phrase_queries: pruned positional scan,
    one applyInPandas group per query, the worker decode LRU shared
    with phrase/KWIC/highlight; only matching (doc, count) rows leave
    the workers."""
    if not getattr(index, "has_positions", False):
        raise ValueError("run_span_near_queries requires an index built "
                         "with IndexConfig(positions=True)")
    qt_rows = sorted({(qid, int(t)) for qid, ts in enumerate(phrases)
                      for t in ts})
    local_terms = sorted({t for _, t in qt_rows})
    qdf = spark.createDataFrame(
        qt_rows,
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("term_id", T.LongType(), False),
        ]))
    segs = _pruned_segments(index, qdf, local_terms).select(
        "term_id", "seg_id", "n", "block_maxs", "endpoints", "freq_offsets",
        "payload", "pos_payload", "pos_endpoints")
    joined = qdf.join(segs, "term_id").repartition(
        spark.sparkContext.defaultParallelism * 2, "query_id")
    docs_dict_bc = shared_index_bc(spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)
    pos_dict_bc = spark.sparkContext.broadcast(index.pos_dict)
    tomb_bc = _live_bc(spark, index, doc_filter)
    phrase_bc = spark.sparkContext.broadcast(
        {qid: [int(t) for t in ts] for qid, ts in enumerate(phrases)})
    sl = int(slop)
    schema = T.StructType([
        T.StructField("query_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_spans", T.LongType(), False),
    ])

    ordered = bool(in_order)

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["query_id", "doc_id", "n_spans"]
        if not len(pdf):
            return pd.DataFrame(columns=cols)
        qid = int(pdf["query_id"].iloc[0])
        seq = phrase_bc.value[qid]
        if not ordered:
            # unordered windows cover DISTINCT terms (a repeat adds no
            # constraint under per-start minimal enclosing windows)
            seq = sorted(set(seq))
        by_term = {int(t): sub for t, sub in pdf.groupby("term_id")}
        term_keys = []
        for t in seq:
            sub = by_term.get(int(t))
            if sub is None:
                return pd.DataFrame(columns=cols)  # absent term: no doc
            term_keys.append(_term_occurrence_keys(
                sub.drop_duplicates(subset=["seg_id"]),
                docs_dict_bc.value, freqs_dict_bc.value,
                pos_dict_bc.value))
        if any(not len(k) for k in term_keys):
            return pd.DataFrame(columns=cols)
        kern = span_near_kernel if ordered else span_near_unordered_kernel
        d, c = kern(term_keys, sl)
        if tomb_bc is not None and len(d):
            keep = tomb_bc.value.mask[d]
            d, c = d[keep], c[keep]
        return pd.DataFrame({"query_id": qid, "doc_id": d, "n_spans": c})

    return joined.groupBy("query_id").applyInPandas(run_one, schema)


def run_phrase_queries(spark: SparkSession, index, phrases: list,
                       doc_filter: DocMask | None = None) -> DataFrame:
    """Distributed exact-phrase retrieval over a positional index.

    ``phrases``: list of term_id sequences (order = phrase order; repeated
    terms allowed). Returns (query_id, doc_id, phrase_tf) for every doc
    containing the full consecutive sequence, with the exact (overlap-
    counting) occurrence count.

    Plan shape mirrors run_queries: the batch's distinct terms push into
    the parquet scan (term_id IN pruning), segments join the per-phrase
    (query_id, ord, term_id) rows, and one applyInPandas group per query
    runs the kernel — per-term streams decode once per query even when the
    phrase repeats a term, and a worker-level LRU amortizes head terms
    across the batch. Only matching (doc, tf) rows leave the workers."""
    if not getattr(index, "has_positions", False):
        raise ValueError("run_phrase_queries requires an index built with "
                         "IndexConfig(positions=True)")
    local_terms = sorted({int(t) for ts in phrases for t in ts})
    qdf = spark.createDataFrame(
        [(i, [int(t) for t in ts]) for i, ts in enumerate(phrases)],
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("terms", T.ArrayType(T.LongType()), False),
        ]),
    )
    qterms = qdf.select(
        "query_id", F.size("terms").alias("plen"),
        F.posexplode("terms").alias("ord", "term_id"))
    segs = _pruned_segments(index, qterms, local_terms).select(
        "term_id", "seg_id", "n", "block_maxs", "endpoints", "freq_offsets",
        "payload", "pos_payload", "pos_endpoints")
    joined = qterms.join(segs, "term_id").repartition(
        spark.sparkContext.defaultParallelism * 2, "query_id")

    docs_dict_bc = shared_index_bc(spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)
    pos_dict_bc = spark.sparkContext.broadcast(index.pos_dict)
    tomb_bc = _live_bc(spark, index, doc_filter)

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=["query_id", "doc_id", "phrase_tf"])
        qid = int(pdf["query_id"].iloc[0])
        dd, fd, pdict = (docs_dict_bc.value, freqs_dict_bc.value,
                         pos_dict_bc.value)
        # decode once per DISTINCT term, then assemble the ord-ordered chain
        # (a repeated phrase term joins its segment rows once per ord —
        # drop the duplicates or the concatenated key stream doubles)
        by_term = {
            int(tid): _term_occurrence_keys(
                rows.drop_duplicates(subset=["seg_id"]), dd, fd, pdict)
            for tid, rows in pdf.groupby("term_id")
        }
        ords = pdf[["ord", "term_id"]].drop_duplicates().sort_values("ord")
        if len(ords) < int(pdf["plen"].iloc[0]):
            # a phrase term is absent from the index -> no matches
            return pd.DataFrame(columns=["query_id", "doc_id", "phrase_tf"])
        chain = [by_term[int(t)] for t in ords["term_id"]]
        docs, tfs = phrase_match_kernel(chain)
        if tomb_bc is not None and len(docs):
            keep = tomb_bc.value.mask[docs]
            docs, tfs = docs[keep], tfs[keep]
        return pd.DataFrame(
            {"query_id": qid, "doc_id": docs, "phrase_tf": tfs})

    return joined.groupBy("query_id").applyInPandas(run_one,
                                                    schema=PHRASE_SCHEMA)


def _bm25_score_matched(docs: np.ndarray, term_infos, norm_lens,
                        num_docs: int, DT) -> np.ndarray:
    """BM25 scores for ``docs`` (sorted ids, each matched by EVERY term)
    over term_infos = (qf, df_total, docs_t, freqs_t) tuples in term_id asc
    order — the same per-term accumulation sequence as the ranked kernels,
    so a phrase-ranked score equals what ranked_and would assign the doc."""
    score = np.zeros(len(docs), dtype=DT)
    nl = np.asarray(norm_lens)[docs].astype(DT, copy=False)
    K1 = DT(1.2)
    NORM = DT(1.0) - DT(0.5)  # 1 - b
    for qf, df_total, dlist, flist in term_infos:
        qw = _qtw(qf, df_total, num_docs, DT)
        f = flist[np.searchsorted(dlist, docs)].astype(DT)
        score = score + qw * (f / (f + K1 * (NORM + DT(0.5) * nl)))
    return score


def _phrase_term_infos(phrase, pdf: pd.DataFrame, dd, fd, num_docs: int):
    """(qf, df_total, docs_t, freqs_t) per DISTINCT phrase term, term_id
    asc; decode goes through the worker-level full-list LRU (head phrase
    terms amortize across the batch exactly like the BM25 serve path)."""
    from collections import Counter

    counts = Counter(int(t) for t in phrase)
    infos = []
    for tid in sorted(counts):
        rows = (pdf[pdf["term_id"] == tid]
                .drop_duplicates(subset=["seg_id"]).sort_values("seg_id"))
        df_total = int(rows["n"].sum())
        parts = []
        for r in rows.itertuples():
            c = Cursor(r.n, r.block_maxs, r.endpoints, r.freq_offsets,
                       r.payload, num_docs, dd, fd, term_id=tid)
            parts.append(_cached_full_decode(c))
        dlist = (parts[0][0] if len(parts) == 1
                 else np.concatenate([p[0] for p in parts]))
        flist = (parts[0][1] if len(parts) == 1
                 else np.concatenate([p[1] for p in parts]))
        infos.append((counts[tid], df_total, dlist, flist))
    return infos


def run_phrase_queries_ranked(
    spark: SparkSession, index, phrases: list, k: int = 10,
    dtype: str = "float32", doc_filter: DocMask | None = None,
) -> DataFrame:
    """Phrase search ranked by BM25: docs containing the exact consecutive
    phrase, ordered by the BM25 score of the phrase's terms (qf = each
    term's multiplicity in the phrase, full-corpus statistics) — the
    match-on-phrase / rank-on-terms model of web search result pages.
    Returns TOPK_SCHEMA (query_id, rank, doc_id, score); ties doc_id asc,
    identical to the ranked kernels' rule. The phrase occurrence count
    gates matching only — standard BM25 does not reward repetition of the
    phrase beyond its terms' tf, keeping scores comparable with
    run_queries over the same terms."""
    if not getattr(index, "has_positions", False):
        raise ValueError("run_phrase_queries_ranked requires an index "
                         "built with IndexConfig(positions=True)")
    DT = np.float32 if dtype == "float32" else np.float64
    local_terms = sorted({int(t) for ts in phrases for t in ts})
    qdf = spark.createDataFrame(
        [(i, [int(t) for t in ts]) for i, ts in enumerate(phrases)],
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("terms", T.ArrayType(T.LongType()), False),
        ]),
    )
    qterms = qdf.select(
        "query_id", F.col("terms").alias("phrase"),
        F.size("terms").alias("plen"),
        F.posexplode("terms").alias("ord", "term_id"))
    segs = _pruned_segments(index, qterms, local_terms).select(
        "term_id", "seg_id", "n", "block_maxs", "endpoints", "freq_offsets",
        "payload", "pos_payload", "pos_endpoints")
    joined = qterms.join(segs, "term_id").repartition(
        spark.sparkContext.defaultParallelism * 2, "query_id")

    num_docs = index.num_docs
    norm_bc = spark.sparkContext.broadcast(
        index.norm_lens if dtype == "float32" else index.norm_lens64)
    docs_dict_bc = shared_index_bc(spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)
    pos_dict_bc = spark.sparkContext.broadcast(index.pos_dict)
    tomb_bc = _live_bc(spark, index, doc_filter)

    empty = pd.DataFrame(columns=["query_id", "rank", "doc_id", "score"])

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return empty
        qid = int(pdf["query_id"].iloc[0])
        dd, fd, pdict = (docs_dict_bc.value, freqs_dict_bc.value,
                         pos_dict_bc.value)
        by_term = {
            int(tid): _term_occurrence_keys(
                rows.drop_duplicates(subset=["seg_id"]), dd, fd, pdict)
            for tid, rows in pdf.groupby("term_id")
        }
        ords = pdf[["ord", "term_id"]].drop_duplicates().sort_values("ord")
        if len(ords) < int(pdf["plen"].iloc[0]):
            return empty  # a phrase term is absent from the index
        phrase = [int(t) for t in ords["term_id"]]
        docs, _tfs = phrase_match_kernel([by_term[t] for t in phrase])
        if tomb_bc is not None and len(docs):
            docs = docs[tomb_bc.value.mask[docs]]
        if not len(docs):
            return empty
        infos = _phrase_term_infos(phrase, pdf, dd, fd, num_docs)
        score = _bm25_score_matched(docs, infos, norm_bc.value,
                                    num_docs, DT)
        order = np.lexsort((docs, -score))[:k]
        return pd.DataFrame({
            "query_id": qid,
            "rank": np.arange(1, len(order) + 1, dtype=np.int32),
            "doc_id": docs[order],
            "score": score[order].astype(np.float64),
        })

    return joined.groupBy("query_id").applyInPandas(run_one,
                                                    schema=TOPK_SCHEMA)


DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("freq", T.LongType(), False),
    ]
)


DECODE_RATE_SCHEMA = T.StructType([
    T.StructField("n_ints", T.LongType(), False),
    T.StructField("decode_secs", T.DoubleType(), False),
])

BUCKET_DECODE_SCHEMA = T.StructType([
    T.StructField("bucket", T.LongType(), False),
    T.StructField("lists", T.LongType(), False),
    T.StructField("postings", T.LongType(), False),
    T.StructField("decode_secs", T.DoubleType(), False),
    T.StructField("checksum", T.LongType(), False),
])


_U64_MASK = (1 << 64) - 1


def _decode_checksum(docs: np.ndarray, freqs: np.ndarray) -> int:
    """Order-independent content checksum of a decoded posting span:
    3*sum(docid) + sum(freq) + sum(docid*freq) mod 2^64 (the cross term
    detects docid<->freq pairing corruption that the plain sums miss).
    Commutative, so partial sums from any task/batch order agree. Array
    reductions wrap silently in u64; the final combine is python-int math
    masked to 64 bits (no numpy scalar-overflow warnings)."""
    d = docs.astype(np.uint64)
    f = freqs.astype(np.uint64)
    return (3 * int(d.sum()) + int(f.sum()) + int((d * f).sum())) & _U64_MASK


def bucket_decode_metrics(index, parallelism: int | None = None
                          ) -> dict[int, dict]:
    """Per-bucket (per index partition) decode metrics under the vroom
    in-loop protocol: lists, postings, summed in-loop decode seconds,
    ints/sec/core, and a content checksum. The north rule requires
    decode-rate metrics persisted per partition alongside the
    compression ratios — Index.record_decode_metrics runs this job,
    verifies the decoded posting counts against the encode-time manifest
    counts, and persists the result into manifest.json."""
    docs_dict_bc = shared_index_bc(index.spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(index.spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # bucket -> [lists, postings, secs, checksum(u64 as python int)]
        per: dict[int, list] = {}
        for b, rows, docs, freqs, secs in _decode_segment_rows(
                batches, docs_dict_bc.value, freqs_dict_bc.value,
                by="bucket"):
            acc = per.setdefault(b, [0, 0, 0.0, 0])
            acc[0] += len(rows)
            acc[1] += len(docs)
            acc[2] += secs
            acc[3] = (acc[3] + _decode_checksum(docs, freqs)) & _U64_MASK
        if per:
            # u64 checksum -> signed i64 for the Long column (re-wrapped
            # on the driver side)
            yield pd.DataFrame(
                [(b, a[0], a[1], a[2], int(np.int64(np.uint64(a[3]))))
                 for b, a in per.items()],
                columns=[f.name for f in BUCKET_DECODE_SCHEMA.fields])

    seg = index.segments.select(
        "bucket", "n", "block_maxs", "endpoints", "freq_offsets", "payload")
    if parallelism:
        seg = seg.repartition(parallelism, "bucket")
    rows = (seg.mapInPandas(run, schema=BUCKET_DECODE_SCHEMA)
            .groupBy("bucket")
            .agg(F.sum("lists").alias("lists"),
                 F.sum("postings").alias("postings"),
                 F.sum("decode_secs").alias("decode_secs"),
                 F.sum("checksum").alias("checksum"))
            .collect())
    out: dict[int, dict] = {}
    for r in rows:
        secs = float(r["decode_secs"])
        out[int(r["bucket"])] = {
            "lists": int(r["lists"]),
            "postings": int(r["postings"]),
            "decode_secs": round(secs, 4),
            # docs + freqs streams, like the vroom protocol
            "ints_per_sec_core": round(2 * int(r["postings"]) / secs)
            if secs > 0 else None,
            # partial u64 checksums summed as wrapped i64 by Spark: re-wrap
            "checksum": int(np.uint64(np.int64(r["checksum"]))),
        }
    return out


_FLUSH_BLOCKS = 8192  # blocks gathered per decode pass (bounds memory)


def _decode_segment_rows(batches: Iterator[pd.DataFrame], docs_dict,
                         freqs_dict, by: str | None = None):
    """The one decode buffer behind the segment scans. Rows gather across
    Arrow batches (the columnar reader hands over ~32 at a time), per
    ``by`` group, until _FLUSH_BLOCKS blocks; each gathering then decodes
    in one codec.decode_postings pass. Yields (group, rows, docs, freqs,
    decode_secs), the seconds timing only the decode call."""
    import time as _time

    pending: dict = {}

    def take(g):
        rows = pd.concat(pending.pop(g)[1], ignore_index=True)
        payloads = list(rows["payload"])
        t0 = _time.perf_counter()
        docs, freqs, _ = decode_postings(
            payloads, rows["n"].to_numpy(), list(rows["block_maxs"]),
            list(rows["endpoints"]), list(rows["freq_offsets"]), docs_dict,
            freqs_dict)
        return g, rows, docs, freqs, _time.perf_counter() - t0

    for pdf in batches:
        for g, sub in (pdf.groupby(by) if by else [(None, pdf)]):
            if not len(sub):
                continue
            g = None if by is None else int(g)
            acc = pending.setdefault(g, [0, []])
            acc[0] += int(((sub["n"].to_numpy() + BLOCK_SIZE - 1)
                           // BLOCK_SIZE).sum())
            acc[1].append(sub)
            if acc[0] >= _FLUSH_BLOCKS:
                yield take(g)
    for g in list(pending):
        yield take(g)


def decode_rate_stats(index, parallelism: int | None = None) -> dict:
    """The reference's vroom decode protocol (vroom_env/decode.cpp:47-70):
    time ONLY the decode loop, worker-side, and report ints/sec.

    Returns {"ints", "decode_secs", "ints_per_sec_core"} where
    ints_per_sec_core = total ints / summed in-loop seconds — the per-core
    decode rate, independent of Spark job overhead (which dominates
    wall-clock at small scale and is amortized at any real one).
    """
    docs_dict_bc = shared_index_bc(index.spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(index.spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ints = 0
        secs = 0.0
        for _, _, docs, _, dt in _decode_segment_rows(
                batches, docs_dict_bc.value, freqs_dict_bc.value):
            ints += 2 * len(docs)
            secs += dt
        yield pd.DataFrame({"n_ints": [ints], "decode_secs": [secs]})

    seg = index.segments.select(
        "n", "block_maxs", "endpoints", "freq_offsets", "payload")
    if parallelism:
        seg = seg.repartition(parallelism)
    rows = seg.mapInPandas(run, schema=DECODE_RATE_SCHEMA).collect()
    ints = sum(r["n_ints"] for r in rows)
    secs = sum(r["decode_secs"] for r in rows)
    return {"ints": int(ints), "decode_secs": secs,
            "ints_per_sec_core": ints / secs if secs else 0.0}


_DECODE_ISIN_BOUND = 100_000  # beyond this, bucket prune + exact semi-join


def decoded_postings(index, parallelism: int | None = None,
                     term_ids: list[int] | None = None) -> DataFrame:
    """Full decode of every segment back to (term_id, doc_id, freq) — the
    reference's check_index / verify_collection protocol
    (include/ds2i/verify_collection.hpp:7-52) as a distributed job.
    ``parallelism`` forces a repartition so the decode saturates all cores
    even when segments sit in few parquet files (bench protocol).
    ``term_ids`` restricts the decode to a term subset with the filter
    pushed into the segments scan (consumers like rankeval.judged_rel
    decode a handful of query terms, not the index)."""
    docs_dict_bc = shared_index_bc(index.spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(index.spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for _, rows, docs, freqs, _ in _decode_segment_rows(
                batches, docs_dict_bc.value, freqs_dict_bc.value):
            yield pd.DataFrame({
                "term_id": np.repeat(rows["term_id"].to_numpy(),
                                     rows["n"].to_numpy()),
                "doc_id": docs, "freq": freqs,
            })

    base = index.segments
    if term_ids is not None:
        # push the subset into the parquet scan (row-group/partition
        # pruning, same contract as _pruned_segments) so a k-term decode
        # never reads the full index. Past the isin-expression bound the
        # scan prunes at bucket granularity and an exact broadcast
        # semi-join drops same-bucket strangers BEFORE decode — the
        # subset contract holds at every size.
        tids = [int(t) for t in term_ids]
        if len(tids) <= _DECODE_ISIN_BOUND:
            base = base.where(F.col("term_id").isin(tids))
        else:
            tpb = index.terms_per_bucket
            base = base.where(F.col("bucket").isin(
                sorted({t // tpb for t in tids})))
            tdf = index.spark.createDataFrame(
                [(t,) for t in tids], "term_id long")
            base = base.join(F.broadcast(tdf), "term_id", "left_semi")
    seg = base.select(
        "term_id", "n", "block_maxs", "endpoints", "freq_offsets", "payload"
    )
    if parallelism:
        seg = seg.repartition(parallelism)
    return seg.mapInPandas(run, schema=DECODED_SCHEMA)


POSITIONS_SCHEMA = T.StructType([
    T.StructField("term_id", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("pos", T.LongType(), False),
])


def decoded_positions(index, parallelism: int | None = None) -> DataFrame:
    """Full decode of a positional index to one (term_id, doc_id, pos) row
    per token occurrence — the positions-stream analogue of
    decoded_postings (used by compact_index to reconstruct the surviving
    documents' exact token sequences, and by tests as the positions
    check_index). Emission batches ~1M rows per output frame."""
    if not getattr(index, "has_positions", False):
        raise ValueError("decoded_positions requires an index built with "
                         "IndexConfig(positions=True)")
    from dint_spark.dint.codec import (decode_list_bulk, decode_value_stream,
                                       gaps_to_positions)

    docs_dict_bc = shared_index_bc(index.spark, index, "docs_dict",
                                   lambda: index.docs_dict)
    freqs_dict_bc = shared_index_bc(index.spark, index, "freqs_dict",
                                    lambda: index.freqs_dict)
    pos_dict_bc = index.spark.sparkContext.broadcast(index.pos_dict)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dd, fd, pdict = (docs_dict_bc.value, freqs_dict_bc.value,
                         pos_dict_bc.value)
        acc_t: list = []
        acc_d: list = []
        acc_p: list = []
        acc_n = 0

        def emit() -> pd.DataFrame:
            nonlocal acc_t, acc_d, acc_p, acc_n
            out = pd.DataFrame({
                "term_id": np.concatenate(acc_t),
                "doc_id": np.concatenate(acc_d),
                "pos": np.concatenate(acc_p),
            })
            acc_t, acc_d, acc_p, acc_n = [], [], [], 0
            return out

        for pdf in batches:
            for row in pdf.itertuples():
                docs, freqs = decode_list_bulk(
                    bytes(row.payload), int(row.n),
                    np.asarray(row.block_maxs, dtype=np.int64),
                    np.asarray(row.endpoints, dtype=np.int64),
                    np.asarray(row.freq_offsets, dtype=np.int64), dd, fd,
                )
                npos = int(freqs.sum())
                vals = decode_value_stream(
                    bytes(row.pos_payload), npos,
                    np.asarray(row.pos_endpoints, dtype=np.int64), pdict)
                pos = gaps_to_positions(vals, freqs)
                acc_t.append(np.full(npos, int(row.term_id), dtype=np.int64))
                acc_d.append(np.repeat(docs, freqs).astype(np.int64))
                acc_p.append(pos.astype(np.int64))
                acc_n += npos
                if acc_n >= 1 << 20:
                    yield emit()
        if acc_n:
            yield emit()

    seg = index.segments.select(
        "term_id", "n", "block_maxs", "endpoints", "freq_offsets", "payload",
        "pos_payload", "pos_endpoints")
    if parallelism:
        seg = seg.repartition(parallelism)
    return seg.mapInPandas(run, schema=POSITIONS_SCHEMA)
