"""Score explanation: per-term BM25 breakdown for each top-k hit — the
ES ``_explain`` / Lucene ``Explanation`` API, the tool users reach for
when a ranking surprises them.

For every (query, top-k doc, matched term) the op emits the exact
ingredients (tf, df, doc len) and the term's quantized score
contribution; the sum of a doc's contributions reproduces its ranked
score up to the quantization the ranked surface already exposes. One
kernel pass: the top-k selection is the same exact compacted scoring
used by collapse/pagination (queries.matched_scores), and the per-term
tf lookups are |k| searchsorted probes per list into the decoded and
weighted lists the worker LRU already holds — no second decode, no
per-doc Python. Output is |queries| x k x |terms| rows, driver-trivial.

No reference counterpart: fanhualta/dint returns scores only
(include/ds2i/queries.hpp); explanation is engine-completeness scope
(the builder brief's web-search surface).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dint_spark.queries import (DocMask, _call_stats, _execute, _fold_queries,
                                _live_bc, _quantized_order, _term_lists,
                                _value, matched_scores)

EXPLAIN_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("term_id", T.LongType(), False),
    T.StructField("tf", T.LongType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("contrib_q", T.LongType(), False),
])


def run_queries_explain(
    spark: SparkSession, index, queries, k: int = 10,
    dtype: str = "float64", quant: float = 1e9,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Top-``k`` docs per query by quantized BM25 (the ranked-surface
    order), exploded into one row per matched query term with its exact
    (tf, df) and quantized contribution floor(qw * dtw * quant). Terms
    the doc does not contain emit no row (their contribution is 0).
    Returns (query_id, rank, doc_id, term_id, tf, df, contrib_q)."""
    num_docs = index.num_docs
    DT = np.float32 if dtype == "float32" else np.float64
    stats = _call_stats(spark, index, dtype)
    norm_bc, live_bc = stats.norm_bc, _live_bc(spark, index, doc_filter)

    def body(qid, item, cursors):
        union, scores = matched_scores(cursors, norm_bc.value, num_docs, DT,
                                       live=_value(live_bc))
        sq = np.floor(scores.astype(np.float64) * quant).astype(np.int64)
        order = _quantized_order(union, sq, k)
        top_docs = union[order].astype(np.int64)
        ranks = np.arange(1, len(order) + 1, dtype=np.int32)
        out = [[] for _ in range(6)]
        # each term probes as ONE sorted list (its chunk parts joined),
        # whose length is the term's df
        for c, docs, freqs, w in _term_lists(cursors, norm_bc.value, DT):
            pos = np.searchsorted(docs, top_docs)
            pos_c = np.minimum(pos, len(docs) - 1)
            hit = docs[pos_c] == top_docs
            if not hit.any():
                continue
            contrib = np.floor(
                (c.q_weight * w[pos_c[hit]]).astype(np.float64) * quant
            ).astype(np.int64)
            nhit = int(hit.sum())
            for col, v in zip(out, (
                    ranks[hit], top_docs[hit],
                    np.full(nhit, int(c.term_id), dtype=np.int64),
                    freqs[pos_c[hit]].astype(np.int64),
                    np.full(nhit, len(docs), dtype=np.int64), contrib)):
                col.append(v)
        return [np.concatenate(col) for col in out] if out[0] else None

    return _execute(spark, index, _fold_queries(queries), body,
                    EXPLAIN_SCHEMA, stats, DT)
