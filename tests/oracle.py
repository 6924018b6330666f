"""The scalar exhaustive DAAT walk: the reference's ranked_or
(include/ds2i/queries.hpp:387-457) that every engine kernel must
reproduce exactly.

It reads each cursor's list through codec.decode_list_bulk, so it shares
no code with the worker decode LRU or the cached BM25 weights that it
checks. Per doc it adds the matching lists' q_weight * dtw in cursor
order (term_id asc), and the top-k queue's strict `>` insertion keeps
the earliest (smallest) doc_id at a tie (queries.hpp:150-188).
"""

from __future__ import annotations

import heapq

import numpy as np

from dint_spark.dint.codec import decode_list_bulk


class TopK:
    """k-min-heap with strict `>` insertion; ties keep earliest (= smallest
    docid, since DAAT visits docids in increasing order) — equivalent to
    top-k by (score desc, doc_id asc). (ref queries.hpp:150-188)"""

    __slots__ = ("k", "heap")

    def __init__(self, k: int):
        self.k = k
        self.heap: list = []

    def insert(self, score, doc_id: int) -> None:
        if len(self.heap) < self.k:
            heapq.heappush(self.heap, (score, -doc_id))
        elif score > self.heap[0][0]:
            heapq.heapreplace(self.heap, (score, -doc_id))

    def finalize(self) -> list[tuple[int, float]]:
        out = sorted(self.heap, key=lambda t: (-t[0], -t[1]))
        return [(-nd, float(s)) for s, nd in out]


def _dtw(freq: int, norm_len, DT):
    f = DT(freq)
    return f / (f + DT(1.2) * (DT(1.0) - DT(0.5) + DT(0.5) * norm_len))


def ranked_or(cursors, norm_lens, num_docs: int, k: int, DT=np.float32,
              live=None):
    """Top-k (doc_id, score) of ``cursors`` (term_id asc, q_weight set)
    by a per-doc walk; docs ``live`` excludes never enter the queue."""
    lists = [(c.q_weight, *decode_list_bulk(
        c.payload, c.n, c.block_maxs, c.endpoints, c.freq_offsets,
        c.docs_dict, c.freqs_dict)) for c in cursors]
    pos = [0] * len(lists)

    def docid(i: int) -> int:
        docs = lists[i][1]
        return int(docs[pos[i]]) if pos[i] < len(docs) else num_docs

    q = TopK(k)
    cur_doc = min((docid(i) for i in range(len(lists))), default=num_docs)
    while cur_doc < num_docs:
        score = DT(0)
        norm_len = DT(norm_lens[cur_doc])
        next_doc = num_docs
        for i, (qw, _, freqs) in enumerate(lists):
            if docid(i) == cur_doc:
                score = score + qw * _dtw(int(freqs[pos[i]]), norm_len, DT)
                pos[i] += 1
            next_doc = min(next_doc, docid(i))
        if live is None or live.mask[cur_doc]:
            q.insert(score, cur_doc)
        cur_doc = next_doc
    return q.finalize()
