"""Deterministic fixtures + independent oracle (FIXTURES.md F1-F4).

The oracle is a ~40-line exhaustive float32 BM25 scorer over uncompressed
postings, written independently of the engine kernels; every ranked operator
must reproduce its top-k (doc_id, score) exactly (float32-equal, tie-break
doc_id asc) — stricter than the reference's 0.1% tolerance
(test/test_ranked_queries.cpp:50-53).
"""

from __future__ import annotations

import numpy as np

from dint_spark.bm25 import BM25
from dint_spark.dint.codec import encode_list
from dint_spark.dint.dictionary import DintDictionary, select_patterns_dsf
from dint_spark.dint.stats import (
    _compact_acc, _iter_pattern_groups, _merge_pending, _window_blobs)
from dint_spark import queries as Q
from dint_spark.queries import Cursor, _qtw

VOCAB = 2000


def gen_collection(num_docs: int = 800, seed: int = 42, vocab: int = VOCAB):
    """Token-id documents with Zipfian term distribution; returns
    (postings: dict term->(docs,freqs), doclens, num_docs)."""
    rng = np.random.default_rng(seed)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    cdf = np.cumsum(ranks ** -1.07)
    cdf /= cdf[-1]
    postings: dict[int, dict[int, int]] = {}
    doclens = np.zeros(num_docs, dtype=np.int64)
    docs_tokens = []
    for d in range(num_docs):
        length = int(np.clip(rng.lognormal(np.log(60.0), 0.6), 8, 512))
        toks = np.searchsorted(cdf, rng.random(length))
        docs_tokens.append(toks)
        doclens[d] = length
        t_unique, t_counts = np.unique(toks, return_counts=True)
        for t, c in zip(t_unique, t_counts):
            postings.setdefault(int(t), {})[d] = int(c)
    plists = {
        t: (
            np.array(sorted(dmap), dtype=np.int64),
            np.array([dmap[d] for d in sorted(dmap)], dtype=np.int64),
        )
        for t, dmap in postings.items()
    }
    return plists, doclens, num_docs, docs_tokens


def gen_queries(docs_tokens, num_queries: int = 120, seed: int = 7):
    """Queries sampled from documents (AND-satisfiable) + adversarial dups."""
    rng = np.random.default_rng(seed)
    queries = []
    for _ in range(num_queries):
        d = int(rng.integers(len(docs_tokens)))
        toks = np.unique(docs_tokens[d])
        qlen = int(rng.integers(1, min(8, len(toks)) + 1))
        q = list(rng.choice(toks, size=qlen, replace=False))
        if rng.random() < 0.1 and q:
            q.append(q[0])  # duplicate term (query_freqs multiplicity)
        queries.append([int(t) for t in q])
    return queries


def build_dicts(plists) -> tuple[DintDictionary, DintDictionary]:
    """Driver-side stats + DSF (small-scale mirror of the Spark stats job)."""
    acc_docs: dict = {}
    acc_freqs: dict = {}
    pend_docs: dict = {}
    pend_freqs: dict = {}
    total = 0
    for docs, freqs in plists.values():
        total += len(docs)
        gaps = np.diff(docs, prepend=-1) - 1
        _window_blobs(gaps.astype(np.uint32), pend_docs, 0)
        _window_blobs((freqs - 1).astype(np.uint32), pend_freqs, 0)
    _merge_pending(pend_docs, acc_docs)
    _merge_pending(pend_freqs, acc_freqs)
    out = []
    for acc in (acc_docs, acc_freqs):
        _compact_acc(acc)
        stats = []
        for _, size, ub, counts in _iter_pattern_groups(acc):
            w = 4 * size
            stats += [(ub[i * w: i * w + w], size, int(c))
                      for i, c in enumerate(counts.tolist())]
        out.append(DintDictionary.build(select_patterns_dsf(stats, total)))
    return out[0], out[1]


def build_segments(plists, doclens, docs_dict, freqs_dict, optimal=True):
    """In-memory segment rows keyed by term."""
    norm = BM25.norm_lens(doclens)
    segs = {}
    for t, (docs, freqs) in plists.items():
        payload, bmax, endp, foff = encode_list(docs, freqs, docs_dict,
                                                freqs_dict, optimal=optimal)
        w = BM25.doc_term_weight(freqs, norm[docs])
        bms = np.array([w[b * 256: (b + 1) * 256].max() for b in range(len(bmax))],
                       dtype=np.float32)
        segs[t] = dict(n=len(docs), block_maxs=bmax, endpoints=endp,
                       freq_offsets=foff, payload=payload,
                       block_max_scores=bms, max_weight=np.float32(w.max()))
    return segs, norm


def make_cursors(query, segs, docs_dict, freqs_dict, norm, num_docs,
                 DT=np.float32):
    terms, qfs = np.unique(query, return_counts=True)
    cursors = []
    for t, qf in zip(terms, qfs):
        if int(t) not in segs:
            continue
        s = segs[int(t)]
        c = Cursor(s["n"], s["block_maxs"], s["endpoints"], s["freq_offsets"],
                   s["payload"], docs_dict, freqs_dict,
                   block_max_scores=s["block_max_scores"], term_id=int(t))
        c.q_weight = _qtw(int(qf), s["n"], num_docs, DT)
        cursors.append(c)
    return cursors


# block_max_wand_vec on its past-the-dense-ceiling (compaction) path at
# any shard size; the kernel tests run it under the id "bmw_pruned". A
# lambda, so Spark ships it to workers by value (they cannot import this
# module); it reaches the kernel through dint_spark.queries.
PAST_CEILING = lambda cs, nl, nd, k, DT=np.float32, live=None: (  # noqa: E731
    Q.block_max_wand_vec(cs, nl, Q._DENSE_SCORE_MAX_DOCS + 1, k, DT, live))


def oracle_topk(query, plists, doclens, num_docs, k=10):
    """Independent exhaustive float32 BM25 (FIXTURES.md F4)."""
    norm = BM25.norm_lens(doclens)
    terms, qfs = np.unique(query, return_counts=True)
    scores = np.zeros(num_docs, dtype=np.float32)
    touched = np.zeros(num_docs, dtype=bool)
    for t, qf in zip(terms, qfs):
        if int(t) not in plists:
            continue
        docs, freqs = plists[int(t)]
        qw = BM25.query_term_weight(int(qf), len(docs), num_docs)
        scores[docs] += qw * BM25.doc_term_weight(freqs, norm[docs])
        touched[docs] = True
    cand = np.flatnonzero(touched)
    order = np.lexsort((cand, -scores[cand].astype(np.float64)))
    top = cand[order[:k]]
    return [(int(d), float(scores[d])) for d in top]
