"""Query-time retrieval kernels over DINT-compressed segments.

A query's terms arrive as Cursors, one per posting-list part (plain
records; the lists decode once per worker into an LRU), and every
kernel runs numpy over whole decoded lists. The reference's DAAT
operators (include/ds2i/queries.hpp) fix what each query returns; the
``algo`` names below are the reference's and select a kernel through
KERNELS:

  and / or           boolean_and / boolean_or: sorted-list intersection,
                     union (34-130)
  ranked_and         intersection + scoring (309-385)
  ranked_or          exhaustive top-k (387-457); ranked_or_vec is its
                     numpy form
  wand, maxscore     pruned top-k (190-307, 459-573); the same top-k as
                     ranked_or
  block_max_wand     WAND + per-block max-score bounds (our extension
                     using the segments' block_max_scores metadata)

Every ranked-OR name is an alias of block_max_wand_vec, the default
``algo`` of every op: dense scoring whose top-k selection a block-max
floor certifies, ranked_or_vec's compaction past the dense ceiling.
Pruning loops exist to skip work a scalar walk cannot afford; over
numpy arrays they did not pay (block_max_wand_vec's docstring).

All scoring is float32 in the reference's accumulation order (a doc's
term contributions added in term_id order), with top-k ties broken by
ascending doc_id as the reference's topk queue's strict `>` insertion
does (queries.hpp:150-188), so every kernel reproduces the scalar
exhaustive walk (tests/oracle.py) exactly. A float64 mode exists for
cross-checking against SQL oracles.

Distributed execution: every query op (run_queries, the boolean, LM,
facet, bool-DSL, nested, paging and explain ops, and the positional
phrase, proximity, span, KWIC and highlight ops) is a per-query body run
by one execute step (_execute). The step pins the index's segments
executor-side once per handle and runs LPT-balanced query bins, one task
per core, against them; only each query's output rows come back — k rows
per query for top-k, mirroring the reference's q/s protocol. BM25-cursor
bodies get cursors; positional bodies get the query's segment parts with
their position streams. A handle holds one segment pin: the first
positional op replaces its BM25 pin with one that carries positions,
and BM25 bodies run on that from then on. An
index over the pin budget takes the one shuffle fallback (queries x
segments joined on term_id, one applyInPandas group per query), which
hands the same body the same input.
"""

from __future__ import annotations

import gc
import hashlib
import heapq
import itertools
import os
import threading
import weakref
from collections import OrderedDict
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from dint_spark.bm25 import BM25
from dint_spark.dint.codec import (BLOCK_SIZE, decode_posting_blocks,
                                   decode_postings, posting_blocks)


class Cursor:
    """One seg-map part of a query term, with the term's query weight: a
    plain record. Kernels read the whole list through the worker LRU
    (decode_all, _term_weights); block_table describes any subset of its
    blocks for a partial decode (boolean_and_not)."""

    __slots__ = ("n", "block_maxs", "endpoints", "freq_offsets", "payload",
                 "block_max_scores", "docs_dict", "freqs_dict", "term_id",
                 "q_weight", "_ckey")

    def __init__(self, n, block_maxs, endpoints, freq_offsets, payload,
                 docs_dict, freqs_dict, block_max_scores=None, term_id=-1):
        self._set(int(n), np.asarray(block_maxs, dtype=np.int64),
                  np.asarray(endpoints, dtype=np.int64),
                  np.asarray(freq_offsets, dtype=np.int64), bytes(payload),
                  (np.asarray(block_max_scores, dtype=np.float32)
                   if block_max_scores is not None else None),
                  docs_dict, freqs_dict, term_id)
        self.q_weight = np.float32(0)

    @classmethod
    def _of_part(cls, part, term_id: int, dd, fd, dict_tokens: tuple,
                 q_weight) -> "Cursor":
        """The cursor of one _seg_map part: its fields are already typed,
        so nothing converts or copies; ``dict_tokens`` are dd's and fd's
        _dict_token, the tail of its cache key."""
        c = cls.__new__(cls)
        c._set(part[1], part[2], part[4], part[5], part[6], part[3], dd, fd,
               term_id)
        c._ckey = (term_id, part[1], len(part[6]), hash(part[6]),
                   *dict_tokens)
        c.q_weight = q_weight
        return c

    def _set(self, n, block_maxs, endpoints, freq_offsets, payload,
             block_max_scores, docs_dict, freqs_dict, term_id):
        self.n, self.block_maxs, self.endpoints = n, block_maxs, endpoints
        self.freq_offsets, self.payload = freq_offsets, payload
        self.block_max_scores = block_max_scores
        self.docs_dict, self.freqs_dict = docs_dict, freqs_dict
        self.term_id, self._ckey = term_id, None

    def block_table(self, blocks=None) -> tuple[bytes, np.ndarray]:
        """codec.posting_blocks of ``blocks`` (None: every block): built
        per call, for only the blocks about to be decoded."""
        return posting_blocks([self.payload], [self.n], [self.block_maxs],
                              [self.endpoints], [self.freq_offsets], blocks)

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        """Full-list decode (docs, freqs), via the worker-level LRU."""
        return _cached_full_decode(self)


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
# lists. Each entry (_Decoded) also holds the list's BM25 document-term
# weights per (norm array content, dtype) and its best block's docs, the
# query-independent half of every ranked kernel's work. Bounded in bytes
# (docs + freqs + every weight array) so a 1000-executor deployment holds
# just its hot set per worker.
#
# Every reader reaches these caches through module-level functions. A
# closure that Spark ships (the bodies and work functions of _execute)
# is pickled by value together with a copy of the module globals it
# names, so a cache named inside one would be a fresh, empty copy per
# task that nothing else reads.
_LIST_CACHE: OrderedDict = OrderedDict()
_LIST_CACHE_BYTES = 0
_LIST_CACHE_CAP = int(os.environ.get("DINT_SPARK_DECODE_CACHE_MB", "256")) * 2**20
_LIST_CACHE_HITS = 0  # lookups served from the LRU, for tests and probes

# Dense-accumulator scoring ceiling: the top-k kernels switch from the
# candidate-compaction path (np.unique + per-list searchsorted, O(P log P))
# to a docid-indexed float accumulator (O(P + num_docs) pure scatter/scan)
# when the shard's doc count fits the per-worker budget. 2^24 docs = 67 MB
# f32 per in-flight query; a 16-worker executor tops out ~1.1 GB
# transient — the same order as the pinned seg broadcast it serves.
# Shards above the ceiling (docid sharding bounds num_docs per shard;
# README "Scale design") keep the compaction path, which never
# materializes O(num_docs) state.
_DENSE_SCORE_MAX_DOCS = 1 << 24


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


class _Decoded:
    """One _LIST_CACHE entry: a list's decoded docs and freqs, the docs of
    its best block (by stored block_max_score; None until first asked),
    and its BM25 weights per (norm token, dtype). ``nbytes`` is what the
    entry charges against _LIST_CACHE_CAP."""

    __slots__ = ("docs", "freqs", "best", "weights", "nbytes")

    def __init__(self, docs: np.ndarray, freqs: np.ndarray):
        self.docs, self.freqs, self.best = docs, freqs, None
        self.weights: dict = {}
        self.nbytes = docs.nbytes + freqs.nbytes


def _charge(nbytes: int) -> None:
    """Add ``nbytes`` to the LRU's total, then evict least recently used
    entries until it fits _LIST_CACHE_CAP."""
    global _LIST_CACHE_BYTES
    _LIST_CACHE_BYTES += nbytes
    while _LIST_CACHE_BYTES > _LIST_CACHE_CAP and _LIST_CACHE:
        _LIST_CACHE_BYTES -= _LIST_CACHE.popitem(last=False)[1].nbytes


def _list_entry(c: "Cursor") -> "_Decoded":
    """Cursor ``c``'s _LIST_CACHE entry, decoding the full list on a miss."""
    global _LIST_CACHE_HITS
    key = _cache_key(c)
    e = _LIST_CACHE.get(key)
    if e is not None:
        _LIST_CACHE.move_to_end(key)
        _LIST_CACHE_HITS += 1
        return e
    e = _LIST_CACHE[key] = _Decoded(*decode_posting_blocks(
        *c.block_table(), c.docs_dict, c.freqs_dict))
    _charge(e.nbytes)
    return e


def _cached_full_decode(c: "Cursor") -> tuple[np.ndarray, np.ndarray]:
    e = _list_entry(c)
    return e.docs, e.freqs


def _tf_weights(freqs: np.ndarray, norm_lens: np.ndarray, DT) -> np.ndarray:
    """BM25 document-term weights f / (f + k1(1 - b + b*nl)), k1 = 1.2 and
    b = 0.5, elementwise over aligned ``freqs`` and ``norm_lens``: the
    operation sequence of the scalar reference walk (tests/oracle.py), so
    q_weight times a weight is the same float as its per-doc one."""
    f = freqs.astype(DT)
    return f / (f + DT(1.2) * (DT(1.0) - DT(0.5)
                               + DT(0.5) * norm_lens.astype(DT, copy=False)))


# id(norm array) -> (weakref to it, content token): each norm array's
# bytes hash once per worker, and the weakref's callback drops the memo
# entry with the array, so a recycled id() never reads a stale token
_NORM_TOKENS: dict = {}


def _norm_token(nl: np.ndarray) -> tuple:
    """Content token of norm array ``nl`` (dtype, length, 128-bit
    digest): the norm half of a weight key. avg_len overrides and
    appended-shard statistics hand one worker several norm arrays for the
    same list, and equal arrays from different broadcasts share weights."""
    i = id(nl)
    hit = _NORM_TOKENS.get(i)
    if hit is not None and hit[0]() is nl:
        return hit[1]
    tok = (nl.dtype.str, len(nl), hashlib.blake2b(
        np.ascontiguousarray(nl), digest_size=16).digest())
    _NORM_TOKENS[i] = (
        weakref.ref(nl, lambda _, i=i: _NORM_TOKENS.pop(i, None)), tok)
    return tok


def _term_weights(c, norm_lens, DT) -> tuple:
    """(docs, BM25 document-term weights under ``norm_lens``, best-block
    docs or None) of cursor ``c``'s full list: the one place a ranked
    kernel gets per-posting weights. They are cached in the list's
    _LIST_CACHE entry under the norm array's content token and DT, next
    to the docs of its best block by stored block_max_score (the exactly
    scored set behind block_max_wand_vec's floor)."""
    nl = np.asarray(norm_lens)
    e = _list_entry(c)
    wkey = (_norm_token(nl), DT)
    w = e.weights.get(wkey)
    if w is None:
        w = e.weights[wkey] = _tf_weights(e.freqs, nl[e.docs], DT)
        if _LIST_CACHE.get(_cache_key(c)) is e:  # still cached: charge it
            e.nbytes += w.nbytes
            _charge(w.nbytes)
    if e.best is None and c.block_max_scores is not None:
        b = int(np.argmax(c.block_max_scores)) * BLOCK_SIZE
        e.best = e.docs[b:b + BLOCK_SIZE]
    return e.docs, w, e.best


_QTW: dict = {}  # (qf, df, N, DT) -> query-term weight, per worker


def _qtw(qf, df: int, num_docs: int, DT):
    """BM25 query-term weight qf * max(1e-6, idf) * (1 + k1), memoized per
    (qf, df, N, DT): numpy scalar math costs ~10 us a call, and head terms
    repeat across a batch's queries."""
    key = (qf, df, num_docs, DT)
    w = _QTW.get(key)
    if w is None:
        if len(_QTW) >= 1 << 16:  # weighted (float qf) queries: stay bounded
            _QTW.clear()
        idf = np.log(DT((DT(num_docs) - DT(df) + DT(0.5))
                        / (DT(df) + DT(0.5))))
        w = _QTW[key] = DT(qf) * max(DT(1.0e-6), DT(idf)) * (DT(1.0)
                                                              + DT(1.2))
    return w


# ---------------------------------------------------------------------------
# kernels; `cursors` arrive sorted by term_id asc, a term's parts in seg_id
# order, each with its term's q_weight
# ---------------------------------------------------------------------------

def _dense_topk(lists, num_docs: int, k: int, DT, floor_sets=(),
                live=None):
    """Exhaustive BM25 top-k via a docid-indexed accumulator.

    ``lists`` is (q_weight, docs, weights) per cursor in term_id order
    (_term_weights) — the canonical accumulation order. Each list adds its
    per-posting float contribution q_weight * weight with one fancy-index
    scatter (docids are unique within a list, so ``acc[docs] += x`` is a
    plain unbuffered add; the first list assigns, as 0 + x == x); a doc
    matched by several lists receives its adds in exactly the same IEEE
    sequence as the candidate-compaction path (which adds an exact 0 for
    unmatched docs — a no-op on non-negative f32), so scores are
    bit-identical.
    Top-k selection: k-th-value partition, then doc-asc lexsort of the
    >=t ties only — identical (doc_id, score) rows to a full lexsort.

    O(P) scatter + O(num_docs) scan, no sort of the posting union; only
    valid when num_docs fits worker memory (callers gate on
    _DENSE_SCORE_MAX_DOCS — docid sharding bounds num_docs per shard).
    """
    acc = np.zeros(num_docs, dtype=DT)
    for i, (qw, docs, w) in enumerate(lists):
        if i:
            acc[docs] += qw * w
        else:
            acc[docs] = qw * w
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
    # ``floor_sets``: arrays of distinct docs whose accumulated (exact)
    # scores certify a floor, since the k-th best of any k docs' scores
    # is <= the k-th best overall; the best such floor is the max over the
    # sets (no union and unique needed). A mask scan at the floor
    # replaces the O(num_docs) introselect partition.
    cand, floor = None, DT(0)
    for fd in floor_sets:
        if fd is not None and len(fd) >= k:
            fv = acc[fd]
            floor = max(floor, np.partition(fv, len(fv) - k)[len(fv) - k])
    if floor > 0:
        cand = np.flatnonzero(acc >= floor)
        if len(cand) < k:  # unreachable for distinct docs; stay safe
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
    return list(zip(cand[order].tolist(), vals[order].tolist()))


def ranked_or_vec(cursors, norm_lens, num_docs: int, k: int, DT=np.float32,
                  live=None):
    """Exhaustive top-k (the reference's ranked_or, queries.hpp:387-457)
    over numpy arrays, numerically identical to its per-doc walk.

    Per-doc accumulation order is term_id asc (the cursor order), exactly as
    the walk adds matching cursors per doc — each list contributes one
    float32 add per doc, in the same sequence, with elementwise-identical
    IEEE ops, so scores are bit-equal to the walk's. Shards whose doc count
    fits the per-worker budget score through the dense docid-indexed
    accumulator (_dense_topk — O(P) scatter, no posting-union sort); larger
    shards compact docid space via the union of list docids (no dense
    num_docs array), so the kernel stays partition-safe at 10^12-doc scale.
    """
    if not cursors:
        return []
    # cursors arrive sorted by term_id (_cursors)
    lists = [(c.q_weight, *_term_weights(c, norm_lens, DT)[:2])
             for c in cursors]
    if num_docs <= _DENSE_SCORE_MAX_DOCS:
        return _dense_topk(lists, num_docs, k, DT, live=live)
    union, scores = _compacted_scores(lists, DT, live)
    order = np.lexsort((union, -scores))[:k]
    return list(zip(union[order].tolist(), scores[order].tolist()))


def _compacted_scores(lists, DT, live=None):
    """Exact OR-mode BM25 scores over the compacted match union.

    ``lists`` is (q_weight, docs, weights) in term_id order
    (_term_weights). Scatters each list's float contribution by
    searchsorted position into the sorted union of matched docids —
    accumulation sequence identical to the exhaustive walk's per-doc adds,
    so scores are bit-equal. No dense
    num_docs array: memory is O(|match set|), partition-safe at
    10^12-doc scale."""
    if live is not None:
        # tombstoned postings must drop from BOTH the union and each list
        # (live docs' adds are per-doc independent — scores bit-identical)
        lists = [(qw, d[live.mask[d]], w[live.mask[d]]) for qw, d, w in lists]
    union = np.unique(np.concatenate([d for _, d, _ in lists]))
    scores = np.zeros(len(union), dtype=DT)
    for qw, docs, w in lists:
        scores[np.searchsorted(union, docs)] += qw * w
    return union, scores


_INDEX_CACHE_LOCK = threading.RLock()  # make() may nest (pin -> dicts)
_APP_IDS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _app_id(spark) -> str:
    """``spark``'s applicationId, read once per SparkContext (each read is
    two Py4J round trips)."""
    sc = spark.sparkContext
    app = _APP_IDS.get(sc)
    if app is None:
        app = _APP_IDS[sc] = sc.applicationId
    return app


def _index_cached(spark, index, name: str, make):
    """``make()``, computed once per index handle and Spark application,
    also under concurrent callers. Keyed by applicationId so a restarted
    session rebuilds instead of reusing dead broadcasts; the cache lives
    on the Index handle, whose lifetime already matches the payloads'. A
    cached None counts."""
    with _INDEX_CACHE_LOCK:
        cache = getattr(index, "_bc_cache", None)
        if cache is None:
            cache = {}
            try:
                index._bc_cache = cache
            except AttributeError:  # exotic index-like objects: no caching
                return make()
        key = (_app_id(spark), name)
        if key not in cache:
            cache[key] = make()
        return cache[key]


def _index_cache_peek(spark, index, name: str, pop: bool = False):
    """What _index_cached holds under ``name`` for this handle and Spark
    application, without making it (None when absent); ``pop`` also
    drops it."""
    cache = getattr(index, "_bc_cache", None)
    if not cache:
        return None
    key = (_app_id(spark), name)
    with _INDEX_CACHE_LOCK:
        return cache.pop(key, None) if pop else cache.get(key)


def shared_index_bc(spark, index, name: str, build):
    """Per-index broadcast cache for the payloads every kernel op ships
    (docs/freqs dictionaries, norm arrays), so repeated calls on one
    handle broadcast each payload once."""
    return _index_cached(spark, index, name,
                         lambda: spark.sparkContext.broadcast(build()))


def matched_scores(cursors, norm_lens, num_docs: int, DT=np.float32,
                   live=None) -> tuple[np.ndarray, np.ndarray]:
    """(docids asc, exact BM25 scores) for the FULL OR match set — the
    collection pass behind operators that rank the whole match list by
    something other than a plain top-k heap (field collapsing, cursor
    pagination). Scores are bit-identical to ranked_or_vec's for the
    same dtype (same compacted accumulation)."""
    if not cursors:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=DT))
    # cursors arrive sorted by term_id (_cursors)
    union, scores = _compacted_scores(
        [(c.q_weight, *_term_weights(c, norm_lens, DT)[:2]) for c in cursors],
        DT, live)
    return union.astype(np.int64, copy=False), scores


def _quantized_order(docs: np.ndarray, sq: np.ndarray, k: int
                     ) -> np.ndarray:
    """Indices of the top ``k`` by (sq desc, docs asc): an O(n)
    preselect keeps EVERY entry at or above the k-th ``sq`` so doc_id
    tie-breaks at the boundary stay exact, then the survivors lexsort."""
    idx = np.arange(len(sq))
    if len(sq) > 4 * k and k > 0:
        thr = -np.partition(-sq, k - 1)[k - 1]
        idx = np.flatnonzero(sq >= thr)
    return idx[np.lexsort((docs[idx], -sq[idx]))[:k]]


def _term_lists(cursors, norm_lens=None, DT=np.float32) -> list:
    """One (cursor, docs, freqs, weights) per query term, term_id asc: the
    arrays of the term's parts joined — disjoint increasing doc ranges in
    seg_id order (postings.build_postings), so the join is the term's
    sorted list, whose length is its df — and ``cursor`` its first part
    (q_weight, term_id). ``weights``: BM25 weights under ``norm_lens``
    (_term_weights), None without them. The view of a term that
    intersections and per-term readouts need."""
    out = []
    for _, group in itertools.groupby(cursors, key=lambda c: c.term_id):
        parts = list(group)
        arrs = [(*c.decode_all(), None if norm_lens is None
                 else _term_weights(c, norm_lens, DT)[1]) for c in parts]
        if len(arrs) > 1:
            arrs = [[None if a[0] is None else np.concatenate(a)
                     for a in zip(*arrs)]]
        out.append((parts[0], *arrs[0]))
    return out


def _and_docs(doc_lists: list, live=None) -> np.ndarray:
    """The docs present in every one of ``doc_lists`` (sorted, distinct)
    and live: the shortest list probed into each longer one in turn."""
    lists = sorted(doc_lists, key=len)
    hits = lists[0]
    for docs in lists[1:]:
        at = np.minimum(np.searchsorted(docs, hits), len(docs) - 1)
        hits = hits[docs[at] == hits]
    return hits if live is None else hits[live.mask[hits]]


def ranked_and(cursors, norm_lens, num_docs: int, k: int, DT=np.float32,
               live=None):
    """Intersection + BM25 top-k (ref queries.hpp:309-385): the docs in
    every query term's list (_and_docs), each scored by its lists' adds in
    term_id order — _compacted_scores' sequence over the AND set, so a
    doc's score is bit-identical to its ranked_or_vec score."""
    terms = _term_lists(cursors, norm_lens, DT)
    if not terms:
        return []
    hits = _and_docs([docs for _, docs, _, _ in terms], live)
    scores = np.zeros(len(hits), dtype=DT)
    for c, docs, _, w in terms:
        scores += c.q_weight * w[np.searchsorted(docs, hits)]
    order = np.lexsort((hits, -scores))[:k]
    return list(zip(hits[order].tolist(), scores[order].tolist()))


def boolean_and(cursors, num_docs: int, live=None) -> np.ndarray:
    """Docs (asc) matching every query term (ref queries.hpp:34-130)."""
    if not cursors:
        return np.empty(0, dtype=np.int64)
    return _and_docs([docs for _, docs, _, _ in _term_lists(cursors)], live)


def boolean_or(cursors, num_docs: int, live=None) -> np.ndarray:
    """Docs (asc) matching any query term (ref queries.hpp:34-130)."""
    if not cursors:
        return np.empty(0, dtype=np.int64)
    docs = np.unique(np.concatenate([c.decode_all()[0] for c in cursors]))
    return docs if live is None else docs[live.mask[docs]]


def boolean_and_not(cursors, neg_cursors, num_docs: int, live=None
                    ) -> np.ndarray:
    """AND over ``cursors`` minus any doc present in a ``neg_cursors`` list
    (Lucene's MUST/MUST_NOT clause pair; no reference counterpart — the
    reference's boolean kernels stop at AND/OR, queries.hpp:34-130).

    Each negative list decodes only the blocks its block_maxs place over
    the positive matches, so a huge negative list ("NOT the") is never
    fully decoded and the work is bounded by |matches| blocks per
    negative list, not by its length."""
    matches = boolean_and(cursors, num_docs, live=live)
    for c in neg_cursors:
        if not len(matches):
            break
        blocks = np.unique(np.searchsorted(c.block_maxs, matches))
        blocks = blocks[blocks < len(c.block_maxs)]
        if not len(blocks):
            continue
        docs, _ = decode_posting_blocks(
            *c.block_table(blocks.tolist()), c.docs_dict, None)
        # probe the sorted list: O(|matches| log |docs|), however long
        at = np.minimum(np.searchsorted(docs, matches), len(docs) - 1)
        matches = matches[docs[at] != matches]
    return matches


def block_max_wand_vec(cursors, norm_lens, num_docs: int, k: int,
                       DT=np.float32, live=None):
    """Block-max top-k, exactly ranked_or_vec's: the kernel behind every
    ranked-OR ``algo`` name (KERNELS).

    Shards up to _DENSE_SCORE_MAX_DOCS score every list densely
    (_dense_topk, ranked_or_vec's accumulator), and the block-max
    metadata certifies the top-k threshold instead of pruning blocks: the
    docs of each list's best block (by block_max_score, cached with the
    list's weights) hold exact scores in the accumulator, so the k-th best
    within any one of them is a floor under the k-th best overall, and a
    mask scan at the highest such floor replaces the O(num_docs)
    selection. Block skipping does not pay on these shards: on the
    generate_pages corpora (10k and 100k docs) a pruned pass's bootstrap
    theta left more than half of all blocks alive on nearly every query.
    Larger shards take ranked_or_vec's compaction path, which never
    materializes O(num_docs) state: with the ceiling at 0 it ran 1.9-2.5x
    faster than the pruned block-max pass it replaced on those corpora,
    and faster on every query. Its edge shrank with corpus size (0.39x of
    the pruned pass's time at 10k docs, 0.52x at 100k), and no shard past
    the ceiling has been measured.
    """
    if not cursors:
        return []
    if num_docs > _DENSE_SCORE_MAX_DOCS:
        return ranked_or_vec(cursors, norm_lens, num_docs, k, DT, live)
    lists, best = [], []
    for c in cursors:  # arrive sorted by term_id (_cursors)
        docs, w, b = _term_weights(c, norm_lens, DT)
        lists.append((c.q_weight, docs, w))
        best.append(b)
    return _dense_topk(lists, num_docs, k, DT, floor_sets=best, live=live)


# ``algo`` -> kernel. Every ranked-OR name of the reference's operators
# (queries.hpp) runs block_max_wand_vec: they differ in how they walk
# the lists, not in the top-k they return, so the names stay as aliases.
KERNELS = {
    **dict.fromkeys(("ranked_or", "ranked_or_vec", "wand", "block_max_wand",
                     "block_max_wand_vec", "maxscore"), block_max_wand_vec),
    "ranked_and": ranked_and,
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
# indexes add pos_payload/pos_endpoints, which only positional bodies need
_BM25_SEG_COLS = ["term_id", "seg_id", "n", "block_maxs", "block_max_scores",
                  "endpoints", "freq_offsets", "payload"]
_POS_SEG_COLS = ["pos_payload", "pos_endpoints"]


def build_cursors(group: pd.DataFrame, docs_dict, freqs_dict, num_docs: int,
                  DT=np.float32, df_overrides: dict | None = None,
                  idf_docs: int | None = None) -> list:
    """Cursors of one query from its segment rows as pandas: one row per
    (distinct query term x segment chunk row), each carrying the term's
    qf. A thin adapter: the rows become _seg_map parts and go through
    _cursors, the one builder every query op uses (see there for the
    chunk and global-statistics semantics)."""
    qf = group.groupby("term_id", sort=True)["qf"].first()
    return _cursors(_seg_map(group.to_dict("records")),
                    [int(t) for t in qf.index], [float(q) for q in qf],
                    num_docs, docs_dict, freqs_dict, DT, df_overrides,
                    idf_docs)


def _cursors(segs: dict, tids, qfs, num_docs: int, dd, fd, DT=np.float32,
             df_overrides: dict | None = None,
             idf_docs: int | None = None) -> list:
    """The one cursor builder: cursors of the query terms ``tids`` (asc,
    with their ``qfs``) over the seg-map parts ``segs`` (_seg_map form:
    term_id -> seg_id-sorted parts), one per part. Terms without parts
    get no cursor. A term's parts are disjoint increasing doc ranges, so
    union kernels score them as separate lists exactly (a doc is in at
    most one), and the term's df for the query weight is the SUM of their
    n; _term_lists joins them where a kernel needs the term's one list.

    Sharded serving (sharding.run_queries_sharded) passes GLOBAL
    statistics: df_overrides maps term_id -> corpus-wide df and idf_docs
    is the global N, so every shard computes the same query weights as
    the unsharded index would."""
    N = int(idf_docs) if idf_docs is not None else num_docs
    tokens = (_dict_token(dd), _dict_token(fd))
    cursors = []
    for tid, qf in zip(tids, qfs):
        parts = segs.get(tid)
        if parts is None:
            continue
        df_total = (int(df_overrides[tid]) if df_overrides
                    else parts[0][1] if len(parts) == 1
                    else sum(p[1] for p in parts))
        # qf is an int count for plain queries, a float for weighted
        # (RM3-expanded) ones — DT() of an exact int float is bit-equal
        # to DT() of the int
        qw = _qtw(qf, df_total, N, DT)
        cursors.extend(Cursor._of_part(p, tid, dd, fd, tokens, qw)
                       for p in parts)
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
    queries: list,
    algo: str = "block_max_wand_vec",
    k: int = 10,
    dtype: str = "float32",
    df_overrides: dict | None = None,
    idf_docs: int | None = None,
    doc_filter: DocMask | None = None,
    avg_len_override: float | None = None,
    weighted: bool = False,
) -> DataFrame:
    """Distributed batch retrieval. queries: list[list[int]] of term ids;
    duplicate ids within a query fold into its qf. Returns (query_id,
    rank, doc_id, score), query_id being the position in ``queries``.

    Runs through _execute, the one execute step: the index's
    executor-pinned segments, built on the handle's first call (per Spark
    application) and reused by every later call, with queries in
    LPT-balanced bins, as many tasks as the batch's work fills (at most
    one per core). An index whose segments exceed PIN_BUDGET_BYTES takes
    the step's shuffle fallback, with identical results. Every argument
    below is per call: one pin serves them all.

    ``df_overrides``/``idf_docs``: global statistics for sharded serving
    (see _cursors).

    ``weighted=True``: queries is a list of [(term_id, weight), ...] lists
    with FLOAT per-term weights replacing the integer qf in the BM25
    query-term weight (qw = w * max(1e-6, idf) * (1+k1)) — the channel
    RM3 query expansion (search.rm3_search) re-queries through. Duplicate
    term ids within one query sum their weights.

    ``avg_len_override``: the CURRENT global average document length when
    it differs from the one baked into this index at build time (an epoch
    built before sharding.append_docs grew the corpus). Norms recompute
    exactly from the raw lens (Index.norm_lens_for), so results are
    identical to a fresh build over the grown corpus.

    ``doc_filter``: optional DocMask (build_doc_filter) restricting results
    to eligible docs — filtered search (lang/domain/date/length predicates)
    with corpus-wide BM25 statistics; combined with the handle's current
    tombstones into one broadcast bitmap.
    """
    DT = np.float32 if dtype == "float32" else np.float64
    stats = _call_stats(spark, index, dtype, avg_len_override,
                        df_overrides, idf_docs)
    return _execute(
        spark, index, _fold_queries(queries, weighted),
        _topk_body(algo, k, DT, index.num_docs, stats.norm_bc,
                   _live_bc(spark, index, doc_filter)),
        TOPK_SCHEMA, stats, DT)


def run_queries_lm(
    spark: SparkSession,
    index,
    queries: list,
    mu: float = 2000.0,
    k: int = 10,
    doc_filter: DocMask | None = None,
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

    Execution shape: run_queries' execute step, scored EXHAUSTIVELY into
    a dense per-shard accumulator (the dense-accumulator path of
    ranked_or_vec) — cf_t comes free from the full decode the exhaustive
    scorer performs anyway, and the raw lens array ships instead of BM25
    norms (LM needs lengths, not norms). The BM25 kernels score densely
    too; LM has no stored upper bounds even to certify a floor with.
    A term's chunk parts join into one list (_term_lists). Tombstones/DocMask
    compose at selection time with build-time collection statistics (the
    liveDocs stale-stats contract, like BM25).
    """
    num_docs = index.num_docs
    c_total = int(index.lens.sum())
    lens_bc = spark.sparkContext.broadcast(index.lens)
    live_bc = _live_bc(spark, index, doc_filter)
    mu_f = float(mu)

    def body(qid, item, cursors):
        qf_of = dict(zip(item[0], item[1]))
        acc = np.zeros(num_docs, dtype=np.float64)
        matched = np.zeros(num_docs, dtype=bool)
        ql = 0
        for c, docs, frs, _ in _term_lists(cursors):  # term_id asc
            qf = qf_of[c.term_id]
            ql += qf
            cf = int(frs.sum())
            x = frs.astype(np.float64) / (mu_f * (cf / c_total))
            # a posting list holds each doc once -> fancy += is exact
            acc[docs] += qf * np.log(1.0 + x)
            matched[docs] = True
        live = _value(live_bc)
        if live is not None:
            matched &= live.mask
        cand = np.nonzero(matched)[0]
        scores = acc[cand] + ql * np.log(mu_f / (mu_f + lens_bc.value[cand]
                                                 .astype(np.float64)))
        order = np.lexsort((cand, -scores))[:k]
        return (np.arange(1, len(order) + 1, dtype=np.int32), cand[order],
                scores[order])

    return _execute(spark, index, _fold_queries(queries), body,
                    TOPK_SCHEMA)


PIN_BUDGET_BYTES = 1 << 29  # segment bytes one executor-side pin may hold


class _Pin(NamedTuple):
    """Segments pinned executor-side (_seg_map form) and the dictionaries
    their kernels decode with. ``term_cost``: driver-side posting count
    per pinned term (_TermCosts) — the LPT cost model, and each term's df.
    ``pos_dict_bc``: the position dictionary of a pin whose parts carry
    position streams; None on a pin without positions."""
    seg_bc: object
    term_cost: dict
    docs_dict_bc: object
    freqs_dict_bc: object
    num_docs: int
    pos_dict_bc: object = None


class _TermCosts(dict):
    """term_id -> posting count of a pin's terms, also held as sorted
    ``tids`` and aligned ``postings`` arrays for _lpt_bins' batch
    lookups."""

    def __init__(self, costs: dict):
        super().__init__(costs)
        self.tids = np.array(sorted(self), dtype=np.int64)
        self.postings = np.array([self[t] for t in self.tids.tolist()],
                                 dtype=np.int64)


class _Stats(NamedTuple):
    """One call's BM25 statistics: the norm broadcast and the global
    (df, N) overrides of sharded serving (_cursors semantics)."""
    norm_bc: object
    dfo_bc: object
    idf_docs: int | None


_NO_STATS = _Stats(None, None, None)  # the index's own df and N


def _value(bc):
    """A broadcast's value; None for an absent broadcast."""
    return bc.value if bc is not None else None


def _pin_segs(seg_bc) -> dict:
    """The seg map of pin broadcast ``seg_bc``, as a worker reads it. A
    reused worker runs a full gc.collect() after every task
    (pyspark/daemon.py), and the map unpickles into ~10^5 tracked objects
    (a memoryview and a managed buffer per array, a list per term): on
    the 10k-doc perfbench index that walk took 0.1-0.2 s per task. So
    the worker's first load collects once and freezes everything live
    (gc.freeze), which no later collection walks. The map's containers
    hold no cycles, so a dropped pin still frees by refcount."""
    if hasattr(seg_bc, "_value"):  # loaded: Broadcast.value's own test
        return seg_bc.value
    segs = seg_bc.value
    gc.collect()
    gc.freeze()
    return segs


def _fold_queries(queries, weighted: bool = False) -> list:
    """(term ids asc, qfs) of each query, on arrays for the whole batch:
    duplicate ids within a query fold into an int count, or with
    ``weighted`` ((term_id, weight) items) into the sum of their float
    weights, added in the query's item order (bincount adds its weights
    in input order, as a left-to-right Python sum does)."""
    nq = len(queries)
    lens = np.fromiter(map(len, queries), dtype=np.int64, count=nq)
    flat = list(itertools.chain.from_iterable(queries))
    if weighted:
        tw = np.array(flat, dtype=np.float64).reshape(-1, 2)
        terms, ws = tw[:, 0].astype(np.int64), tw[:, 1]
    else:
        terms, ws = np.array(flat, dtype=np.int64), None
    qidx = np.repeat(np.arange(nq), lens)
    order = np.lexsort((terms, qidx))  # stable: item order within a term
    q, t = qidx[order], terms[order]
    new = np.ones(len(order), dtype=bool)
    new[1:] = (q[1:] != q[:-1]) | (t[1:] != t[:-1])
    group = np.cumsum(new) - 1
    qf = (np.bincount(group, weights=ws[order]) if weighted
          else np.bincount(group))
    ends = np.cumsum(np.bincount(q[new], minlength=nq)).tolist()
    tids, qfs = t[new].tolist(), qf.tolist()
    out, a = [], 0
    for b in ends:
        out.append((tids[a:b], qfs[a:b]))
        a = b
    return out


def _bm25_norms(index, dtype: str, avg_len_override) -> np.ndarray:
    """norm_lens of one call, under an optional override of the index's
    baked average doc length (run_queries)."""
    if avg_len_override is None:
        return (index.norm_lens if dtype == "float32"
                else index.norm_lens64)
    return index.norm_lens_for(float(avg_len_override), dtype)


def _call_stats(spark, index, dtype: str, avg_len_override=None,
                df_overrides: dict | None = None,
                idf_docs: int | None = None) -> _Stats:
    """One call's _Stats on ``index``: its norms (broadcast once per
    handle, dtype and avg_len override) plus the per-call overrides."""
    return _Stats(
        shared_index_bc(
            spark, index,
            f"norms-{dtype}" if avg_len_override is None
            else f"norms-{dtype}-{float(avg_len_override)!r}",
            lambda: _bm25_norms(index, dtype, avg_len_override)),
        (spark.sparkContext.broadcast(df_overrides)
         if df_overrides is not None else None),
        idf_docs)


def _seg_map(records, with_positions: bool = False) -> dict:
    """term_id -> seg_id-sorted (seg_id, n, block_maxs, block_max_scores,
    endpoints, freq_offsets, payload[, pos_payload, pos_endpoints]) parts
    of segment ``records`` (Rows or dicts) — the form _cursors reads, on
    the pin and in the fallback alike."""
    seg_map: dict[int, list] = {}
    for r in records:
        entry = (
            int(r["seg_id"]),
            int(r["n"]),
            np.asarray(r["block_maxs"], dtype=np.int64),
            np.asarray(r["block_max_scores"], dtype=np.float32),
            np.asarray(r["endpoints"], dtype=np.int64),
            np.asarray(r["freq_offsets"], dtype=np.int64),
            bytes(r["payload"]),
        )
        if with_positions:
            entry = entry + (bytes(r["pos_payload"]),
                             np.asarray(r["pos_endpoints"], dtype=np.int64))
        seg_map.setdefault(int(r["term_id"]), []).append(entry)
    for parts in seg_map.values():
        parts.sort(key=lambda p: p[0])
    return seg_map


def _collect_segments(pruned: DataFrame, with_positions: bool,
                      budget: int):
    """(seg_map, term_cost) of the segment rows of ``pruned`` (_seg_map
    form), or None when they exceed ``budget`` bytes. The size pre-check
    runs BEFORE collecting, so an oversized set never hits the driver's
    maxResultSize or memory."""
    size_expr = F.sum(F.length("payload"))
    if with_positions:
        size_expr = size_expr + F.sum(F.length("pos_payload"))
    est = pruned.agg(
        size_expr.alias("b"), F.count("*").alias("c")
    ).collect()[0]
    if int(est["b"] or 0) + 200 * int(est["c"] or 0) > budget:
        return None
    cols = _BM25_SEG_COLS + (_POS_SEG_COLS if with_positions else [])
    seg_map = _seg_map(pruned.select(*cols).collect(), with_positions)
    return seg_map, _TermCosts({tid: sum(p[1] for p in parts)
                                for tid, parts in seg_map.items()})


def _index_pin(spark, index, positions: bool = False) -> _Pin | None:
    """The execute step's pin: the whole index's segments, collected and
    broadcast on the handle's first call per Spark application. None when
    they exceed PIN_BUDGET_BYTES — cached like a pin, so the size
    pre-check also runs once per handle. ``positions``: the positional
    bodies' pin, whose parts also carry the position streams (its budget
    counts them too). A handle holds one segment pin: once it has a
    positions pin, BM25 bodies run on it too (_cursors reads the first
    seven fields of a part), and building it unpersists the BM25 pin.
    Never destroyed: DataFrames returned earlier may still reference it."""
    def make():
        got = _collect_segments(index.segments, positions, PIN_BUDGET_BYTES)
        if got is None:
            return None
        return _Pin(
            spark.sparkContext.broadcast(got[0]), got[1],
            shared_index_bc(spark, index, "docs_dict",
                            lambda: index.docs_dict),
            shared_index_bc(spark, index, "freqs_dict",
                            lambda: index.freqs_dict),
            index.num_docs,
            shared_index_bc(spark, index, "pos_dict",
                            lambda: index.pos_dict) if positions else None)
    with _INDEX_CACHE_LOCK:
        pos_pin = _index_cache_peek(spark, index, "positions")
        if pos_pin is not None:
            return pos_pin
        if not positions:
            return _index_cached(spark, index, "segments", make)
        pin = _index_cached(spark, index, "positions", make)
        if pin is not None:
            bm25 = _index_cache_peek(spark, index, "segments", pop=True)
            if bm25 is not None:
                bm25.seg_bc.unpersist()
        return pin


# The LPT cost (postings, _lpt_bins' model) whose worker time pays for one
# more task's fixed cost. Measured on a 4-core host, Unix-socket workers,
# warm 10k-doc index, _map_bins' mapInArrow over the reused range: an
# empty job takes ~52 ms with 1 task, ~58 ms with 2 and ~74 ms with 4, so
# a task costs ~7 ms; one task's serve wall grows ~18 ns per cost unit
# (85 ms at 329k, 187 ms at 5.38M). 7 ms / 18 ns = ~400k (two runs: 345k
# and 484k). Check: at 329k 1 and 2 tasks tie (85 vs 85 ms); at 621k 2
# tasks win (94 vs 98 ms). A 16-query call (~0.1M) runs one task, a
# 1,000-query batch (~5.5M) one per core.
TASK_MIN_COST = 400_000


def _lpt_bins(spark, items: list, term_lists: list, term_cost: _TermCosts,
              partitions: int | None,
              sized_by_work: bool = True) -> list[list[tuple]]:
    """(position, item) pairs of ``items`` in at most ``partitions``
    (default: defaultParallelism) non-empty bins, LPT-balanced — heaviest
    first onto the lightest bin — on a driver-side cost model: the sum of
    the item's ``term_lists`` terms' posting counts (``term_cost``; the
    lists hold distinct ids, as _fold_queries gives them), plus a fixed
    64 so empty and tail queries still count. Per-query kernel cost is
    heavily skewed (head-term queries cost 10-100x tail ones). The sums
    run on arrays for the whole batch.

    ``sized_by_work``: also at most one bin per TASK_MIN_COST of total
    cost, so a batch too light to fill the cores runs in fewer tasks."""
    tids, post = term_cost.tids, term_cost.postings
    n = len(items)
    lens = np.fromiter(map(len, term_lists), dtype=np.int64, count=n)
    flat = np.fromiter(itertools.chain.from_iterable(term_lists),
                       dtype=np.int64, count=int(lens.sum()))
    per_term = np.zeros(len(flat), dtype=np.int64)
    if len(tids):
        at = np.minimum(np.searchsorted(tids, flat), len(tids) - 1)
        per_term = np.where(tids[at] == flat, post[at], 0)
    costs = np.bincount(np.repeat(np.arange(n), lens), weights=per_term,
                        minlength=n).astype(np.int64) + 64
    nparts = partitions or spark.sparkContext.defaultParallelism
    if sized_by_work:
        nparts = min(nparts, -(-int(costs.sum()) // TASK_MIN_COST))
    nparts = max(1, min(nparts, n))
    heap = [(0, b) for b in range(nparts)]
    bins: list[list[tuple]] = [[] for _ in range(nparts)]
    cl = costs.tolist()
    for i in np.argsort(-costs, kind="stable").tolist():
        load, b = heapq.heappop(heap)
        bins[b].append((i, items[i]))
        heapq.heappush(heap, (load + cl[i], b))
    return [b for b in bins if b]


# one spark.range DataFrame per (session, bin count): _map_bins plans its
# mapInArrow step on it, so a call does not build a new range plan
_BIN_RANGES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _bin_range(spark, n: int) -> DataFrame:
    """spark.range(0, n, 1, n) of session ``spark``: one id per
    partition, made once per (session, n)."""
    per = _BIN_RANGES.get(spark)
    if per is None:
        per = _BIN_RANGES.setdefault(spark, {})
    df = per.get(n)
    if df is None:
        df = per[n] = spark.range(0, n, 1, n)
    return df


def _batch(schema: pa.Schema, cols: list) -> pa.RecordBatch:
    """The one column assembler: an Arrow batch of ``schema`` from
    per-column output parts (_run_rows' form) — array parts concatenate,
    Python sequences chain — converted as Spark converts a pandas frame
    (None/NaN as null, unchecked casts)."""
    return pa.RecordBatch.from_arrays([
        pa.array(np.concatenate(parts)
                 if all(isinstance(p, np.ndarray) for p in parts)
                 else list(itertools.chain.from_iterable(parts)),
                 type=f.type, from_pandas=True, safe=False)
        for f, parts in zip(schema, cols)], schema=schema)


def _map_bins(spark, bins: list, work, schema) -> DataFrame:
    """One task per bin: ``work(bin)`` returns the bin's output columns
    (_run_rows' form; [] for none), which leave the task as one Arrow
    batch. The session's reused spark.range, one id per partition,
    drives mapInArrow, and the bins ride in the task closure (Spark
    broadcasts a large one), so no query rows are scanned or shuffled and
    no session conf is touched.

    ``work`` is pickled by value with a copy of the module globals it
    names: it must reach worker state (the decode LRU) through
    module-level functions such as _run_rows, never a global it names.
    A reused worker runs a full gc.collect() after every task, so state
    that outlives the task must be frozen out of it when it loads, as
    _pin_segs does for a pin."""
    if not bins:
        return spark.createDataFrame([], schema=schema)
    arrow = to_arrow_schema(schema)

    def run(batches):
        for batch in batches:
            for b in batch.column(0).to_pylist():
                cols = work(bins[b])
                if cols:
                    yield _batch(arrow, cols)

    return _bin_range(spark, len(bins)).mapInArrow(run, schema=schema)


def _execute(spark, index, items: list, body, schema,
             stats: _Stats = _NO_STATS, DT=np.float32,
             pin: _Pin | None = None,
             partitions: int | None = None,
             positions: bool = False) -> DataFrame:
    """The one execute step of every query op.

    ``items``: one per query, ``(term_ids asc, qfs, *side)`` — the
    _fold_queries form plus the op's own per-query data; a query's
    query_id is its position. Per query, _cursors builds the cursors
    (under ``stats``' global df/N) and
    ``body(qid, item, cursors)`` returns the query's output columns after
    query_id — one sequence per remaining ``schema`` field — or None. A
    query with no cursors (every term absent) yields no rows, as an inner
    join of its terms with the segments would. A ``positions`` body gets
    the query's _Positions (its present terms' parts with their position
    streams) in place of cursors, under the same rules.

    Runs on ``pin`` (default: the handle's _index_pin, with positions for
    a ``positions`` body) in LPT bins, one task per bin: one bin per core
    (``partitions`` bins at most), but no more bins than TASK_MIN_COST
    postings of work each can fill. A job's fixed cost grows with its
    task count and dominates small batches (an empty _map_bins job on a
    4-core host: ~74 ms with 4 tasks, ~52 ms with 1), so a light call
    runs as one task and a heavy batch still uses every core. A handle
    over PIN_BUDGET_BYTES has no pin and takes the one shuffle fallback
    (_shuffle_execute); the two differ only in how the parts arrive.
    A worker reads the pin through _pin_segs, whose first load freezes
    it out of the collection each reused worker runs after a task."""
    if pin is None:
        pin = _index_pin(spark, index, positions)
        if pin is None:
            return _shuffle_execute(spark, index, items, body, schema, stats,
                                    DT, positions)
    seg_bc, dd_bc, fd_bc = pin.seg_bc, pin.docs_dict_bc, pin.freqs_dict_bc
    pos_bc = pin.pos_dict_bc if positions else None
    num_docs = pin.num_docs

    # shipped by value with copies of the globals it names: worker state
    # (the decode LRU) is reached only through module-level functions
    def work(rows):
        return _run_rows(rows, _pin_segs(seg_bc), dd_bc.value, fd_bc.value,
                         num_docs, DT, body, stats, _value(pos_bc))

    return _map_bins(spark, _lpt_bins(spark, items, [it[0] for it in items],
                                      pin.term_cost, partitions),
                     work, schema)


def _shuffle_execute(spark, index, items: list, body, schema, stats: _Stats,
                     DT, positions: bool) -> DataFrame:
    """_execute's fallback for an index over PIN_BUDGET_BYTES: the
    batch's (query_id, term_id) rows join the term-pruned segment scan,
    hash-partition on query_id, and each query's group of segment rows
    becomes _seg_map parts for the same _run_rows and body."""
    rows = [(i, t) for i, it in enumerate(items) for t in it[0]]
    qterms = spark.createDataFrame(rows, schema=T.StructType([
        T.StructField("query_id", T.LongType(), False),
        T.StructField("term_id", T.LongType(), False),
    ]))
    # explicit projection: position streams only for positional bodies —
    # BM25 kernels never read them, so they stay out of the scan + shuffle
    joined = qterms.join(
        _pruned_segments(index, qterms, sorted({t for _, t in rows}))
        .select(*_BM25_SEG_COLS, *(_POS_SEG_COLS if positions else [])),
        "term_id")
    # per-query kernel cost is heavily skewed (head-term queries cost
    # 10-100x tail ones): ~2 partitions per core bound the unluckiest one;
    # groupBy reuses this partitioning, and AQE does not coalesce it
    joined = joined.repartition(
        spark.sparkContext.defaultParallelism * 2, "query_id")
    dd_bc = shared_index_bc(spark, index, "docs_dict",
                            lambda: index.docs_dict)
    fd_bc = shared_index_bc(spark, index, "freqs_dict",
                            lambda: index.freqs_dict)
    pos_bc = (shared_index_bc(spark, index, "pos_dict",
                              lambda: index.pos_dict) if positions else None)
    num_docs, names = index.num_docs, schema.fieldNames()
    arrow = to_arrow_schema(schema)

    def run_one(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        cols = _run_rows([(qid, items[qid])],
                         _seg_map(pdf.to_dict("records"), positions),
                         dd_bc.value, fd_bc.value, num_docs, DT, body,
                         stats, _value(pos_bc))
        if not cols:
            return pd.DataFrame(columns=names)
        return _batch(arrow, cols).to_pandas(integer_object_nulls=True)

    return joined.groupBy("query_id").applyInPandas(run_one, schema=schema)


def _run_rows(rows, segs: dict, dd, fd, num_docs: int, DT, body,
              stats: _Stats = _NO_STATS, pos_dict=None) -> list:
    """The worker side of _execute over (query_id, item) ``rows`` against
    seg-map parts ``segs``: per-column lists of output parts, query_id
    first, or [] when no query produced a row. With ``pos_dict`` (a
    positional body, over parts that carry position streams) the body
    gets the query's _Positions in place of cursors. Callable without
    Spark, so a profiler can time cursor setup plus body alone."""
    if pos_dict is None:
        dfo = _value(stats.dfo_bc)

        def view(item):
            return _cursors(segs, item[0], item[1], num_docs, dd, fd, DT,
                            dfo, stats.idf_docs)
    else:
        def view(item):
            parts = {t: segs[t] for t in item[0] if t in segs}
            return (_Positions(parts, dd, fd, pos_dict, num_docs)
                    if parts else None)
    cols: list = []
    qids, counts = [], []
    for qid, item in rows:
        got = view(item)
        out = body(qid, item, got) if got else None
        if out is None or not len(out[0]):
            continue
        if not cols:
            cols = [[] for _ in range(len(out) + 1)]
        qids.append(qid)
        counts.append(len(out[0]))
        for acc, col in zip(cols[1:], out):
            acc.append(col)
    if cols:
        cols[0].append(np.repeat(np.array(qids, dtype=np.int64), counts))
    return cols


def _topk_body(algo: str, k: int, DT, num_docs: int, norm_bc, live_bc):
    """The per-query body of run_queries and BroadcastQueryServer.serve:
    the ``algo`` kernel's top-k as (rank, doc_id, score) columns."""
    kernel = KERNELS[algo]

    def body(qid, item, cursors):
        topk = kernel(cursors, norm_bc.value, num_docs, k, DT,
                      live=_value(live_bc))
        if not topk:
            return None
        docs, scores = zip(*topk)
        return range(1, len(topk) + 1), docs, scores

    return body


class BroadcastQueryServer:
    """Pins the (pruned) segments executor-side ONCE and serves any number
    of query batches against them — the document-partitioned serving
    pattern of web search: each shard holds its doc range's complete index
    in executor memory and every query fans out to all shards, whose local
    exact top-k merge into the global exact top-k. In this engine one
    shard = one index (docid sharding per README "Scale design" gives N
    shards at 10^12 docs). Every method runs the one execute step
    (_execute) with the same body as its index op — serve as
    run_queries, serve_phrases / serve_proximity / serve_phrases_ranked
    as the positional ops — on the server's own pin instead of the
    handle's: its own pin lifetime (close()), a term-subset pin, position
    streams pinned with ``with_positions=True``, and statistics fixed at
    construction.

    ``terms=None`` pins the whole index (subject to max_broadcast_bytes);
    a term list pins only those terms' segments.
    """

    def __init__(self, spark: SparkSession, index, terms: list | None = None,
                 dtype: str = "float32",
                 max_broadcast_bytes: int = PIN_BUDGET_BYTES,
                 with_positions: bool = False,
                 df_overrides: dict | None = None,
                 idf_docs: int | None = None,
                 avg_len_override: float | None = None):
        """``df_overrides``/``idf_docs``/``avg_len_override``: global
        statistics for multi-epoch serving (sharding.ShardedQueryServer
        passes them per shard) — same semantics as run_queries, fixed for
        every batch this server serves."""
        if with_positions and not getattr(index, "has_positions", False):
            raise ValueError("with_positions requires an index built with "
                             "IndexConfig(positions=True)")
        if terms is None:
            pruned = index.segments
        else:
            pruned = _pruned_segments(index, None,
                                      sorted({int(t) for t in terms}))
        got = _collect_segments(pruned, with_positions, max_broadcast_bytes)
        if got is None:
            raise ValueError(
                "pruned segments exceed the broadcast budget "
                f"({max_broadcast_bytes} bytes); use run_queries or shard "
                "the index")
        sc = spark.sparkContext
        self.with_positions = with_positions
        self.spark = spark
        self.dtype = dtype
        self.DT = np.float32 if dtype == "float32" else np.float64
        self.num_docs = index.num_docs
        # the server owns its broadcasts (close() unpersists them), so it
        # deliberately does NOT use the shared_index_bc cache
        self.pin = _Pin(sc.broadcast(got[0]), got[1],
                        sc.broadcast(index.docs_dict),
                        sc.broadcast(index.freqs_dict), index.num_docs,
                        sc.broadcast(index.pos_dict)
                        if with_positions else None)
        self.stats = _Stats(
            sc.broadcast(_bm25_norms(index, dtype, avg_len_override)),
            (sc.broadcast({int(t): int(d) for t, d in df_overrides.items()})
             if df_overrides is not None else None),
            int(idf_docs) if idf_docs is not None else None)
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
        """One batch against the pinned segments (_execute: LPT bins,
        one task per bin, ``partitions`` bins at most — default
        defaultParallelism — and at most one per TASK_MIN_COST postings
        of work). Only the query term ids move; kernels run
        executor-side against the broadcast. ``doc_filter``: optional
        DocMask applied batch-wide (filtered search with corpus-wide
        statistics); combined with the pin-time tombstones and broadcast
        once per distinct filter object."""
        return self._serve(queries, algo, k, partitions, doc_filter,
                           self.stats)

    def _serve(self, queries: list, algo: str, k: int,
               partitions: int | None, doc_filter: "DocMask | None",
               stats: _Stats) -> DataFrame:
        """serve() under a caller's statistics (ShardedQueryServer hands
        every shard the global df map this way)."""
        return _execute(
            self.spark, None, _fold_queries(queries),
            _topk_body(algo, k, self.DT, self.num_docs, stats.norm_bc,
                       self._live_for(doc_filter)),
            TOPK_SCHEMA, stats, self.DT, pin=self.pin,
            partitions=partitions)

    def serve_phrases(self, phrases: list,
                      partitions: int | None = None,
                      doc_filter: "DocMask | None" = None) -> DataFrame:
        """Exact-phrase retrieval against the pinned positional segments:
        run_phrase_queries' body on the server's pin — only the query
        terms move per batch, the pos payloads having shipped once at pin
        time."""
        if not self.with_positions:
            raise ValueError("server was built without with_positions=True")
        return _execute(
            self.spark, None, _seq_items(phrases),
            _match_body(phrase_match_kernel, self._live_for(doc_filter)),
            PHRASE_SCHEMA, pin=self.pin, partitions=partitions,
            positions=True)

    def serve_proximity(self, pairs: list, window: int = 8,
                        partitions: int | None = None,
                        doc_filter: "DocMask | None" = None) -> DataFrame:
        """Ordered within-window proximity against the pinned positional
        segments (see serve_phrases)."""
        if any(len(p) != 2 for p in pairs):
            raise ValueError("proximity queries are ordered term PAIRS")
        if not self.with_positions:
            raise ValueError("server was built without with_positions=True")
        return _execute(
            self.spark, None, _seq_items(pairs),
            _match_body(lambda ks: proximity_pair_kernel(*ks, window),
                        self._live_for(doc_filter)),
            PHRASE_SCHEMA, pin=self.pin, partitions=partitions,
            positions=True)

    def serve_phrases_ranked(self, phrases: list, k: int = 10,
                             partitions: int | None = None,
                             doc_filter: "DocMask | None" = None
                             ) -> DataFrame:
        """BM25-ranked phrase search against the pinned positional
        segments: run_phrase_queries_ranked's body under the server's
        norms. Occurrence keys and full posting decodes both ride the
        worker LRUs, so head phrase terms amortize across batches."""
        if not self.with_positions:
            raise ValueError("server was built without with_positions=True")
        return _execute(
            self.spark, None, _seq_items(phrases),
            _phrase_ranked_body(k, self.DT, self.num_docs,
                                self.stats.norm_bc,
                                self._live_for(doc_filter)),
            TOPK_SCHEMA, pin=self.pin, partitions=partitions,
            positions=True)

    def close(self) -> None:
        """Release the pinned broadcasts (call after all served DataFrames
        have been consumed — Spark broadcasts are lazy-referenced)."""
        for bc in (self.pin.seg_bc, self.pin.docs_dict_bc,
                   self.pin.freqs_dict_bc, self.stats.norm_bc,
                   self.stats.dfo_bc, self.tomb_bc, self.pin.pos_dict_bc,
                   *self._filter_bcs.values()):
            try:
                bc is not None and bc.unpersist()
            except Exception:
                pass


LATENCY_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("run", T.IntegerType(), False),
    T.StructField("usecs", T.DoubleType(), False),
])


def query_latency_stats(spark: SparkSession, index, queries: list,
                        algo: str = "block_max_wand_vec", k: int = 10,
                        runs: int = 3, dtype: str = "float32",
                        max_broadcast_bytes: int = PIN_BUDGET_BYTES) -> dict:
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
    seg_bc, dd_bc, fd_bc = (srv.pin.seg_bc, srv.pin.docs_dict_bc,
                            srv.pin.freqs_dict_bc)
    DT, num_docs, stats = srv.DT, srv.num_docs, srv.stats
    body = _topk_body(algo, k, DT, num_docs, stats.norm_bc, srv.tomb_bc)

    def work(rows):
        args = (_pin_segs(seg_bc), dd_bc.value, fd_bc.value, num_docs, DT,
                body, stats)
        outs = []
        for row in rows:
            # the full query op, reference-style: cursor setup + kernel;
            # run 0 is the untimed warmup (queries.cpp:32-34)
            _run_rows([row], *args)
            for r in range(1, runs + 1):
                t0 = _time.perf_counter()
                _run_rows([row], *args)
                outs.append((row[0], r, (_time.perf_counter() - t0) * 1e6))
        return [[c] for c in zip(*outs)]

    folded = _fold_queries(queries)
    bins = _lpt_bins(spark, folded, [t for t, _ in folded],
                     srv.pin.term_cost,
                     spark.sparkContext.defaultParallelism * 4,
                     sized_by_work=False)
    samples = _map_bins(spark, bins, work, LATENCY_SCHEMA).toPandas()
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
    spark: SparkSession, index, queries: list, mode: str = "and",
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Boolean AND (list intersection) / OR (union) / AND-NOT (MUST
    terms minus MUST_NOT terms) over the compressed index; returns
    (query_id, doc_id). (ref queries.hpp:34-130; AND-NOT has no reference
    counterpart — Lucene MUST/MUST_NOT scope.)

    ``queries``: for "and"/"or", a list of term-id lists; for "and_not",
    a list of (pos_terms, neg_terms) pairs. A term that appears on both
    sides of one query excludes every match (x AND NOT x = empty),
    matching the SQL semantics. Terms absent from the index are dropped
    from the query. ``doc_filter``: optional DocMask restricting results
    (see run_queries)."""
    live_bc = _live_bc(spark, index, doc_filter)
    num_docs = index.num_docs
    fn = boolean_and if mode == "and" else boolean_or
    if mode == "and_not":
        sides = [({int(t) for t in pos}, {int(t) for t in neg})
                 for pos, neg in queries]
        items = [(*f, pos, neg) for f, (pos, neg)
                 in zip(_fold_queries([p | n for p, n in sides]), sides)]
    else:
        items = _fold_queries(queries)

    def body(qid, item, cursors):
        live = _value(live_bc)
        if mode != "and_not":
            return (fn(cursors, num_docs, live=live),)
        pos, neg = item[2], item[3]
        pos_c = [c for c in cursors if c.term_id in pos]
        if not pos_c:
            return None
        if any(c.term_id in neg for c in pos_c):
            # every match holds that term, so its negation excludes all
            return None
        return (boolean_and_not(pos_c,
                                [c for c in cursors if c.term_id in neg],
                                num_docs, live=live),)

    return _execute(spark, index, items, body, BOOL_SCHEMA)


def _match_op(spark, index, items: list, mode: str, doc_filter,
              per_query, schema) -> DataFrame:
    """The boolean-match ops' body on the one execute step: per query,
    the AND (``mode="and"``) or OR match set as int64 doc ids, after
    tombstones and ``doc_filter``, goes to ``per_query(item, docs)``,
    which returns the query's output columns after query_id, or None."""
    num_docs = index.num_docs
    live_bc = _live_bc(spark, index, doc_filter)
    fn = boolean_and if mode == "and" else boolean_or

    def body(qid, item, cursors):
        return per_query(item, np.asarray(
            fn(cursors, num_docs, live=_value(live_bc)), dtype=np.int64))

    return _execute(spark, index, items, body, schema)


def _scored_op(spark, index, items: list, dtype: str, doc_filter,
               per_query, schema) -> DataFrame:
    """The full-match-set scored ops' body on the one execute step: per
    query, matched_scores' (docs asc, exact BM25 scores) over the OR
    match set, after tombstones and ``doc_filter``, go to
    ``per_query(item, docs, scores)`` when non-empty; it returns the
    query's output columns after query_id, or None."""
    num_docs = index.num_docs
    DT = np.float32 if dtype == "float32" else np.float64
    stats = _call_stats(spark, index, dtype)
    norm_bc, live_bc = stats.norm_bc, _live_bc(spark, index, doc_filter)

    def body(qid, item, cursors):
        docs, scores = matched_scores(cursors, norm_bc.value, num_docs, DT,
                                      live=_value(live_bc))
        return per_query(item, docs, scores) if len(docs) else None

    return _execute(spark, index, items, body, schema, stats, DT)


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


class _Positions(NamedTuple):
    """A positional body's input for one query (_execute with
    ``positions``): ``parts`` maps each of its terms present in the index
    to the term's seg-map parts, position streams included, and the
    dictionaries decode them."""
    parts: dict
    dd: object
    fd: object
    pdict: object
    num_docs: int

    def keys(self, tid: int) -> np.ndarray:
        """Term ``tid``'s sorted u64 (doc<<32|pos) occurrence keys: the
        parts are disjoint increasing doc ranges, so their concatenation
        is sorted. Each part decodes once per worker through the _POS_CACHE
        LRU, which head terms share across queries and batches."""
        from dint_spark.dint.codec import (decode_list_bulk,
                                           decode_value_stream,
                                           gaps_to_positions)

        out = []
        for p in self.parts[tid]:
            ckey = (tid, p[0], p[1], len(p[7]), hash(p[7]),
                    _dict_token(self.dd), _dict_token(self.pdict))
            keys = _POS_CACHE.get(ckey)
            if keys is not None:
                _POS_CACHE.move_to_end(ckey)
            else:
                docs, freqs = decode_list_bulk(p[6], p[1], p[2], p[4], p[5],
                                               self.dd, self.fd)
                pos = gaps_to_positions(
                    decode_value_stream(p[7], int(freqs.sum()), p[8],
                                        self.pdict), freqs)
                keys = (np.repeat(docs, freqs).astype(np.uint64)
                        << _POS_SHIFT) | pos.astype(np.uint64)
                _POS_CACHE[ckey] = keys
                while len(_POS_CACHE) > _POS_CACHE_ENTRIES:
                    _POS_CACHE.popitem(last=False)
            out.append(keys)
        return out[0] if len(out) == 1 else np.concatenate(out)


def _seq_items(seqs: list) -> list:
    """_execute items of the sequence ops (phrase, proximity, span): the
    _fold_queries form plus the ordered term sequence as side data."""
    return [(*f, [int(t) for t in s]) for f, s in zip(_fold_queries(seqs),
                                                       seqs)]


def _live_only(live_bc, docs: np.ndarray, *cols) -> tuple:
    """``docs`` and their aligned ``cols`` without the docs that the
    tombstones or filter in ``live_bc`` exclude."""
    live = _value(live_bc)
    if live is None or not len(docs):
        return (docs, *cols)
    keep = live.mask[docs]
    return (docs[keep], *(c[keep] for c in cols))


def _match_body(kernel, live_bc):
    """The sequence ops' body: ``kernel`` over the occurrence keys of the
    query's term sequence (item[2]; a repeated term decodes once) gives
    (doc_ids, counts), less the docs ``live_bc`` excludes. A term absent
    from the index matches nothing."""
    def body(qid, item, q):
        if len(q.parts) < len(item[0]):
            return None
        keys = {t: q.keys(t) for t in item[0]}
        if not all(len(k) for k in keys.values()):
            return None
        return _live_only(live_bc, *kernel([keys[t] for t in item[2]]))

    return body


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


def _require_positions(index, op: str) -> None:
    if not getattr(index, "has_positions", False):
        raise ValueError(f"{op} requires an index built with "
                         "IndexConfig(positions=True)")


def run_proximity_queries(spark: SparkSession, index, pairs: list,
                          window: int = 8,
                          doc_filter: DocMask | None = None) -> DataFrame:
    """Distributed ordered-proximity retrieval: for each (t1, t2) query,
    docs where t2 occurs within ``window`` tokens AFTER an occurrence of
    t1, with the exact ordered-pair count. Same plan shape and decode LRU
    as run_phrase_queries. Returns (query_id, doc_id, phrase_tf) —
    phrase_tf = the pair count (schema shared with the phrase op)."""
    _require_positions(index, "run_proximity_queries")
    if any(len(p) != 2 for p in pairs):
        raise ValueError("proximity queries are ordered term PAIRS")
    return _execute(
        spark, index, _seq_items(pairs),
        _match_body(lambda ks: proximity_pair_kernel(*ks, window),
                    _live_bc(spark, index, doc_filter)),
        PHRASE_SCHEMA, positions=True)


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
    occurrence pass is a positional body on the one execute step, one
    query per term (only (query, doc, pos) rows leave the workers); the
    snippet pass is ONE hash join of those hit rows against the documents
    table, with tokenization and the window slice computed JVM-side on the
    joined (= matched-docs-only) stream — no text ever enters Python.
    Tombstoned docs are excluded like every other retrieval path."""
    from dint_spark.tokenizer import tokenize

    _require_positions(index, "run_kwic_queries")
    live_bc = _tombstones_bc(spark, index)

    def body(qid, item, q):
        keys = q.keys(item[0][0])
        # keys sorted -> return_index gives each doc's first occurrence
        docs_u, first = np.unique((keys >> _POS_SHIFT).astype(np.int64),
                                  return_index=True)
        return _live_only(live_bc, docs_u, (keys[first] & np.uint64(
            0xFFFFFFFF)).astype(np.int64))

    occ = _execute(spark, index, _fold_queries([[t] for t in terms]), body,
                   KWIC_SCHEMA, positions=True)
    hit_docs = tokenize(occ.join(docs.select("doc_id", "text"), "doc_id"))
    lo = F.greatest(F.col("pos") + 1 - width, F.lit(1))
    return hit_docs.select(
        "query_id", "doc_id", "pos",
        F.concat_ws(" ", F.slice(
            "tokens", lo, F.col("pos") + 1 + width - lo + 1)).alias("snippet"),
    )


HIGHLIGHT_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score_q", T.LongType(), False),
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
    kernel; the occurrence pass is a positional body on the one execute
    step (the per-term decode LRU amortizes head terms), restricted to
    the |Q| x k candidate docs, which ride in each query's item with
    their rank and score_q (the retrieval runs once), BEFORE any window
    work — at any corpus size the window scan touches only
    result-page docs, the cost class of rendering the page. The
    snippet slice is JVM-side on the hit-joined documents stream (no
    text enters Python). No reference counterpart (the reference stops
    at ranked retrieval); Lucene parity scope."""
    from dint_spark.tokenizer import tokenize

    _require_positions(index, "run_highlight_queries")
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
    # |Q| x k rows — driver-tiny by contract. Collected once: each query's
    # (doc_id, rank, score_q) triples ride in its item, so the retrieval
    # never re-runs in the result's plan
    cand_map: dict[int, list] = {}
    for r in cand.collect():
        cand_map.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), int(r["rank"]), int(r["score_q"])))
    cand_map = {q: np.array(sorted(c), dtype=np.int64).T
                for q, c in cand_map.items()}

    # ---- occurrences of the query's DISTINCT terms in candidate docs -------
    W = int(width)

    def body(qid, item, q):
        if item[2] is None:
            return None
        cdocs, crank, cscore = item[2]  # doc_id ascending
        # each candidate doc's keys are one contiguous sorted run
        # [doc<<32, (doc+1)<<32)
        lo_k = cdocs.astype(np.uint64) << _POS_SHIFT
        hi_k = (cdocs + 1).astype(np.uint64) << _POS_SHIFT
        key_parts, term_parts = [], []
        for tid in item[0]:
            if tid not in q.parts:
                continue
            keys = q.keys(tid)
            take = np.concatenate([
                np.arange(a, b) for a, b in zip(np.searchsorted(keys, lo_k),
                                                np.searchsorted(keys, hi_k))])
            if not len(take):
                continue
            key_parts.append(keys[take])
            term_parts.append(np.full(len(take), tid, dtype=np.int64))
        if not key_parts:
            return None
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
            c = int(np.searchsorted(cdocs, d[s]))
            out.append((int(crank[c]), int(d[s]), int(cscore[c]), -best[2],
                        best[0], best[1]))
        return tuple(zip(*out))

    hl = _execute(spark, index,
                  [(*f, cand_map.get(i))
                   for i, f in enumerate(_fold_queries(queries))],
                  body, HIGHLIGHT_SCHEMA, positions=True)
    hit_docs = tokenize(hl.join(docs.select("doc_id", "text"), "doc_id"))
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


SPAN_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_spans", T.LongType(), False),
])


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
    Plan shape identical to run_phrase_queries: a positional body on the
    one execute step, the worker decode LRU shared with
    phrase/KWIC/highlight; only matching (doc, count) rows leave the
    workers."""
    _require_positions(index, "run_span_near_queries")
    items = _seq_items(phrases)
    sl = int(slop)
    if in_order:
        kern = lambda ks: span_near_kernel(ks, sl)  # noqa: E731
    else:
        # unordered windows cover DISTINCT terms (a repeat adds no
        # constraint under per-start minimal enclosing windows)
        items = [(ts, qfs, ts) for ts, qfs, _ in items]
        kern = lambda ks: span_near_unordered_kernel(ks, sl)  # noqa: E731
    return _execute(spark, index, items,
                    _match_body(kern, _live_bc(spark, index, doc_filter)),
                    SPAN_SCHEMA, positions=True)


def run_phrase_queries(spark: SparkSession, index, phrases: list,
                       doc_filter: DocMask | None = None) -> DataFrame:
    """Distributed exact-phrase retrieval over a positional index.

    ``phrases``: list of term_id sequences (order = phrase order; repeated
    terms allowed). Returns (query_id, doc_id, phrase_tf) for every doc
    containing the full consecutive sequence, with the exact (overlap-
    counting) occurrence count.

    Plan shape mirrors run_queries: a positional body on the one execute
    step, over the handle's positions pin (or the shuffle fallback past
    PIN_BUDGET_BYTES) — per-term streams decode once per query even when
    the phrase repeats a term, and a worker-level LRU amortizes head
    terms across the batch. Only matching (doc, tf) rows leave the
    workers."""
    _require_positions(index, "run_phrase_queries")
    return _execute(spark, index, _seq_items(phrases),
                    _match_body(phrase_match_kernel,
                                _live_bc(spark, index, doc_filter)),
                    PHRASE_SCHEMA, positions=True)


def _bm25_score_matched(docs: np.ndarray, term_infos, norm_lens,
                        num_docs: int, DT) -> np.ndarray:
    """BM25 scores for ``docs`` (sorted ids, each matched by EVERY term)
    over term_infos = (qf, df_total, docs_t, freqs_t) tuples in term_id asc
    order — the same per-term accumulation sequence as the ranked kernels,
    so a phrase-ranked score equals what ranked_and would assign the doc."""
    score = np.zeros(len(docs), dtype=DT)
    nl = np.asarray(norm_lens)[docs]
    for qf, df_total, dlist, flist in term_infos:
        qw = _qtw(qf, df_total, num_docs, DT)
        score = score + qw * _tf_weights(
            flist[np.searchsorted(dlist, docs)], nl, DT)
    return score


def _phrase_term_infos(item, q: _Positions) -> list:
    """(qf, df_total, docs_t, freqs_t) per DISTINCT phrase term, term_id
    asc, from the query's parts; decode goes through the worker-level
    full-list LRU (head phrase terms amortize across the batch exactly
    like the BM25 serve path)."""
    infos = []
    tokens = (_dict_token(q.dd), _dict_token(q.fd))
    for tid, qf in zip(item[0], item[1]):
        [(_, docs, freqs, _)] = _term_lists(
            [Cursor._of_part(p, tid, q.dd, q.fd, tokens, None)
             for p in q.parts[tid]])
        infos.append((qf, len(docs), docs, freqs))
    return infos


def _phrase_ranked_body(k: int, DT, num_docs: int, norm_bc, live_bc):
    """The body of run_phrase_queries_ranked and serve_phrases_ranked:
    the phrase match set ranked by its terms' BM25, top ``k`` as (rank,
    doc_id, score) columns."""
    match = _match_body(phrase_match_kernel, live_bc)

    def body(qid, item, q):
        got = match(qid, item, q)
        if got is None or not len(got[0]):
            return None
        docs = got[0]
        score = _bm25_score_matched(docs, _phrase_term_infos(item, q),
                                    norm_bc.value, num_docs, DT)
        order = np.lexsort((docs, -score))[:k]
        return (np.arange(1, len(order) + 1, dtype=np.int32), docs[order],
                score[order].astype(np.float64))

    return body


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
    run_queries over the same terms. Plan shape: run_phrase_queries'."""
    _require_positions(index, "run_phrase_queries_ranked")
    DT = np.float32 if dtype == "float32" else np.float64
    return _execute(
        spark, index, _seq_items(phrases),
        _phrase_ranked_body(k, DT, index.num_docs,
                            _call_stats(spark, index, dtype).norm_bc,
                            _live_bc(spark, index, doc_filter)),
        TOPK_SCHEMA, positions=True)


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
