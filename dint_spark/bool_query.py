"""The compound boolean query DSL: must / should / must_not /
minimum_should_match in one scored retrieval pass — the ES ``bool``
query, the composition every real search front end sends.

Semantics (the ES contract):
  - a doc is eligible iff it contains EVERY ``must`` term, at least
    ``min_should`` of the ``should`` terms, and NO ``must_not`` term;
  - ``min_should`` defaults to 1 when the query has no ``must`` clause
    (pure should = an OR that must match something) and to 0 otherwise;
  - the score is the BM25 sum over the doc's matched must AND should
    terms (must_not never scores).

Kernel shape: a per-query body on the one execute step
(queries._execute: the index pin, tasks sized by work). All clause lists
decode once (worker LRU), eligibility is three vectorized membership
counts over the sorted match union (searchsorted scatter-adds — no
per-doc Python), and scoring reuses the exact compacted accumulation
shared with ranked_or/collapse/pagination (queries._compacted_scores),
so scores are bit-identical to ranked_or over the same term multiset.
Selection runs in floor(score*quant) integer space for cross-host and
SQL-oracle reproducibility. Only |queries| x k rows leave the workers.

At 10^12 docs this composes like every other kernel op: per-shard
num_docs bounds the arrays, docid sharding fans out via the existing
sharded runners, and must_not lists are decoded but never scored —
their cost is the same O(postings) any filter pays.

No reference counterpart: fanhualta/dint stops at single-clause
AND/OR (include/ds2i/queries.hpp:34-130); the compound DSL is
engine-completeness scope (builder brief web-search surface).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dint_spark.queries import (
    DocMask,
    _call_stats,
    _compacted_scores,
    _execute,
    _fold_queries,
    _live_bc,
    _quantized_order,
    _term_weights,
    _value,
)

BOOL_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score_q", T.LongType(), False),
])


class BoolSpec:
    """One compound query: term-id lists per clause. ``min_should=None``
    applies the ES default (1 without must, 0 with)."""

    __slots__ = ("must", "should", "must_not", "min_should")

    def __init__(self, must=(), should=(), must_not=(),
                 min_should: int | None = None):
        self.must = [int(t) for t in must]
        self.should = [int(t) for t in should]
        self.must_not = [int(t) for t in must_not]
        if not self.must and not self.should:
            raise ValueError(
                "bool query needs at least one scoring clause "
                "(must_not alone is filter-only — ES match_all scope)")
        if min_should is None:
            min_should = 0 if self.must else min(1, len(self.should))
        if min_should > len(self.should):
            raise ValueError(
                f"min_should {min_should} > |should| {len(self.should)}")
        self.min_should = int(min_should)


def run_bool_queries(
    spark: SparkSession, index, specs: list[BoolSpec], k: int = 10,
    dtype: str = "float64", quant: float = 1e9,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Top-``k`` per compound query by (score_q desc, doc_id asc).
    Returns (query_id, rank, doc_id, score_q)."""
    specs = [s if isinstance(s, BoolSpec) else BoolSpec(*s) for s in specs]
    # every clause's terms feed one cursor set (clause-disjoint qf
    # counts); clause membership rides in the query's item
    items = []
    for s in specs:
        qf = Counter(s.must) + Counter(s.should)
        for t in set(s.must_not) - set(qf):
            qf[t] = 1  # weight unused for pure-negative terms
        tids = sorted(qf)
        items.append((tids, [qf[t] for t in tids], frozenset(s.must),
                      frozenset(s.should), frozenset(s.must_not),
                      s.min_should))
    DT = np.float32 if dtype == "float32" else np.float64
    stats = _call_stats(spark, index, dtype)
    norm_bc, live_bc = stats.norm_bc, _live_bc(spark, index, doc_filter)

    def body(qid, item, cursors):
        must, should, neg, min_should = item[2:]
        # a must term whose posting list is absent can never be satisfied
        if len({c.term_id for c in cursors} & must) < len(must):
            return None
        pos_lists, must_lists, should_lists, neg_docs = [], [], [], []
        for c in cursors:  # term_id asc — canonical accumulation order
            if c.term_id in must or c.term_id in should:
                docs, w, _ = _term_weights(c, norm_bc.value, DT)
                pos_lists.append((c.q_weight, docs, w))
            else:
                docs = c.decode_all()[0]
            # a term in BOTH clauses counts toward both (ES: each clause
            # it appears in is satisfied by the same match)
            if c.term_id in must:
                must_lists.append(docs)
            if c.term_id in should:
                should_lists.append(docs)
            if c.term_id in neg:
                neg_docs.append(docs)
        if not pos_lists:
            return None
        live = _value(live_bc)
        union, scores = _compacted_scores(pos_lists, DT, live)
        # vectorized clause counts over the sorted union
        mc = np.zeros(len(union), dtype=np.int32)
        for d in must_lists:
            if live is not None:
                d = d[live.mask[d]]
            mc[np.searchsorted(union, d)] += 1
        sc = np.zeros(len(union), dtype=np.int32)
        for d in should_lists:
            if live is not None:
                d = d[live.mask[d]]
            sc[np.searchsorted(union, d)] += 1
        ok = (mc == len(must)) & (sc >= min_should)
        if neg_docs:
            ok &= ~np.isin(union, np.concatenate(neg_docs))
        docs, sq = union[ok], np.floor(
            scores[ok].astype(np.float64) * quant).astype(np.int64)
        order = _quantized_order(docs, sq, k)
        return (np.arange(1, len(order) + 1, dtype=np.int32),
                docs[order].astype(np.int64), sq[order])

    return _execute(spark, index, items, body, BOOL_SCHEMA, stats, DT)


def run_boosting_queries(
    spark: SparkSession, index, specs: list, negative_boost: float = 0.25,
    k: int = 10, dtype: str = "float64", quant: float = 1e9,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """The ES ``boosting`` query: docs are retrieved and scored by the
    POSITIVE clause (BM25 over its term multiset — ranked-OR semantics),
    and any doc also matching the NEGATIVE clause (containing ANY of its
    terms) keeps its place in the result set but with its score
    multiplied by ``negative_boost`` — demotion, not exclusion (that is
    must_not's job). ``specs``: (positive_terms, negative_terms) pairs.
    Selection in floor(score*quant) integer space.

    Kernel shape: the bool kernel's decode + compacted scoring pass for
    the positive terms; negative lists mark the union via one
    concatenate + isin over their doc ids (decoded through the worker
    LRU's fused-lane pass — both streams decode together, only the doc
    lane is consumed). Returns (query_id, rank, doc_id, score_q)."""
    nb = float(negative_boost)
    items = []
    for pos, neg in specs:
        qf = Counter(int(t) for t in pos)
        for t in set(int(x) for x in neg) - set(qf):
            qf[t] = 1  # decoded for the mark, never scored
        tids = sorted(qf)
        items.append((tids, [qf[t] for t in tids],
                      frozenset(int(t) for t in pos),
                      frozenset(int(t) for t in neg)))
    DT = np.float32 if dtype == "float32" else np.float64
    stats = _call_stats(spark, index, dtype)
    norm_bc, live_bc = stats.norm_bc, _live_bc(spark, index, doc_filter)

    def body(qid, item, cursors):
        pos, neg = item[2:]
        pos_lists, neg_docs = [], []
        for c in cursors:
            if c.term_id in pos:
                docs, w, _ = _term_weights(c, norm_bc.value, DT)
                pos_lists.append((c.q_weight, docs, w))
            if c.term_id in neg:
                neg_docs.append(c.decode_all()[0])
        if not pos_lists:
            return None
        union, scores = _compacted_scores(pos_lists, DT, _value(live_bc))
        mult = np.ones(len(union), dtype=np.float64)
        if neg_docs:
            mult[np.isin(union, np.concatenate(neg_docs))] = nb
        sq = np.floor(scores.astype(np.float64) * mult
                      * quant).astype(np.int64)
        order = _quantized_order(union, sq, k)
        return (np.arange(1, len(order) + 1, dtype=np.int32),
                union[order].astype(np.int64), sq[order])

    return _execute(spark, index, items, body, BOOL_SCHEMA, stats, DT)


def run_terms_set_queries(
    spark: SparkSession, index, specs: list, values, k: int = 10,
    dtype: str = "float64", quant: float = 1e9,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """The ES ``terms_set`` query: a doc matches when it contains at
    least REQUIRED(doc) of the spec's terms, where the required count
    comes from a PER-DOC numeric field (``minimum_should_match_field``)
    — the per-doc generalization of bool minimum_should_match. Docs
    whose required value is missing or < 1, or exceeds the number of
    terms they match, never match (a required count above the spec's
    term count is unsatisfiable — ES's documented behavior). The score
    is the BM25 sum over the doc's matched terms (each distinct term
    once), selected in floor(score*quant) integer space.

    Kernel shape: identical to run_bool_queries (decode once, one
    compacted scoring pass, one vectorized membership count over the
    match union) plus one doc-values lookup for the per-doc threshold;
    the i64 sidecar ships once per worker like norm_lens. Returns
    (query_id, rank, doc_id, score_q)."""
    num_docs = index.num_docs
    if len(values) != num_docs:
        raise ValueError(
            f"values cover {len(values)} docs, index has {num_docs}")
    DT = np.float32 if dtype == "float32" else np.float64
    stats = _call_stats(spark, index, dtype)
    norm_bc, live_bc = stats.norm_bc, _live_bc(spark, index, doc_filter)
    vals_bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(values, dtype=np.int64))

    def body(qid, item, cursors):
        live = _value(live_bc)
        pos_lists = [(c.q_weight, *_term_weights(c, norm_bc.value, DT)[:2])
                     for c in cursors]
        union, scores = _compacted_scores(pos_lists, DT, live)
        mc = np.zeros(len(union), dtype=np.int64)
        for _, d, _ in pos_lists:
            if live is not None:
                d = d[live.mask[d]]
            mc[np.searchsorted(union, d)] += 1
        req = vals_bc.value[union]
        ok = (req >= 1) & (mc >= req)
        docs, sq = union[ok], np.floor(
            scores[ok].astype(np.float64) * quant).astype(np.int64)
        order = _quantized_order(docs, sq, k)
        return (np.arange(1, len(order) + 1, dtype=np.int32),
                docs[order].astype(np.int64), sq[order])

    return _execute(spark, index,
                    _fold_queries([{int(t) for t in ts} for ts in specs]),
                    body, BOOL_SCHEMA, stats, DT)
