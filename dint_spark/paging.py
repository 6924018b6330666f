"""Cursor pagination: BM25 retrieval resuming strictly after a
(score, doc_id) cursor — the ES ``search_after`` contract for deep
result pages.

Why a cursor and not an offset: offset paging at depth D keeps a
(D + k)-entry heap per query and re-ships D + k rows; search_after keeps
a k-entry selection regardless of depth, so page 100 costs the same as
page 1. (ES made ``search_after`` the supported deep-paging mode for
exactly this reason; both still score the full match set — the saving
is selection + transfer state, not collection.) The collection pass here
is the exact compacted scorer shared with field collapsing
(queries.matched_scores — bit-identical to ranked_or), and selection is
an O(n) argpartition preselect + exact lexsort of the survivors, all
inside the per-query body that decoded the postings (a body on the one
execute step, queries._execute): only |queries| x k rows ever leave a
worker.

Cursor comparisons run in floor(score*quant) integer space, the same
quantization the oracle gate applies to every ranked entry — so a page-2
cursor taken from page-1 output reproduces bit-exactly across hosts and
dtypes, which float cursors would not.

No reference counterpart: fanhualta/dint's query layer
(include/ds2i/queries.hpp:34-130) stops at single-shot top-k;
pagination is engine-completeness scope (the builder brief's web-search
surface).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dint_spark.queries import (DocMask, _fold_queries, _quantized_order,
                                _scored_op)

PAGE_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score_q", T.LongType(), False),
])


def run_queries_after(
    spark: SparkSession, index, queries,
    after: list[tuple[int, int] | None] | None = None,
    k: int = 10, dtype: str = "float64", quant: float = 1e9,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """The next ``k`` results per query strictly after each query's
    ``after`` cursor in (score_q desc, doc_id asc) order.

    ``after[query_id]`` is the LAST (score_q, doc_id) of the previous
    page (None or a missing slot = first page). A doc is eligible when
    its (score_q, doc_id) sort key falls strictly after the cursor:
    score_q < cursor score, or equal score with a larger doc_id.
    Returned ``rank`` is 1..k relative to the cursor; chaining pages
    tiles the global ranking exactly. Tombstones/DocMask compose as in
    run_queries. Returns (query_id, rank, doc_id, score_q).
    """
    after = list(after or [])
    after += [None] * (len(queries) - len(after))
    # each query's cursor rides in its item
    items = [(*f, (int(c[0]), int(c[1])) if c is not None else None)
             for f, c in zip(_fold_queries(queries), after)]

    def per_query(item, docs, scores):
        sq = np.floor(scores.astype(np.float64) * quant).astype(np.int64)
        if item[2] is not None:
            s_a, d_a = item[2]
            keep = (sq < s_a) | ((sq == s_a) & (docs > d_a))
            docs, sq = docs[keep], sq[keep]
        order = _quantized_order(docs, sq, k)
        return (np.arange(1, len(order) + 1, dtype=np.int32), docs[order],
                sq[order])

    return _scored_op(spark, index, items, dtype, doc_filter, per_query,
                      PAGE_SCHEMA)
