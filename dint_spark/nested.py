"""Nested / parent-child documents — the ES ``nested`` / ``has_child`` /
``has_parent`` query class, as a BLOCK JOIN over the existing doc-values
machinery (Lucene's ToParentBlockJoinQuery model: children are indexed
as ordinary adjacent documents and a sidecar maps each child to its
parent ordinal; the "join" is an array lookup, never a shuffle).

Data model: the index holds CHILD documents (nested objects flattened to
their own docids — how Lucene physically stores nested docs); a per-doc
i64 parent-ordinal sidecar (facets.build_doc_values over any parent-key
column) maps child docid -> parent id. Orphan children (missing parent
ordinal) never join — the ES unmapped/missing contract.

  * nested / has_child  -> run_nested_queries: child-level BM25 over the
    FULL match set (queries.matched_scores — the one-kernel-pass shape
    shared with facets._function_score_queries), then a vectorized
    rollup of child scores to parents with score_mode sum|max|min|avg
    and a min_children floor, top-k parents by (score desc, parent asc).
    Child scores are floor(score*1e9)-quantized BEFORE the rollup, so
    sum/avg are order-free integer arithmetic and the SQL oracle
    reproduces rows exactly (the webtext int64-quantize-before-sum
    pattern; ES rolls up floats, a documented deviation at the 1e-9
    quantum level). avg = sum_q // n (integer floor division, exact in
    both engines).
  * has_parent -> children_of_parents_mask: a parent-level allowlist
    becomes a child DocMask by one vectorized parent_ords lookup, then
    any child-level retrieval runs with doc_filter= that mask (filtered
    search with corpus statistics — the liveDocs pattern).

Scale shape at 10^12 docs: the parent-ordinal sidecar is 8 bytes/doc and
shard-local under docid sharding (children of one parent are adjacent
docids, so a parent's block never spans shards when shard bases align to
parent blocks — the same contiguity Lucene's block join requires within
a segment); the rollup emits one row per matched PARENT inside the
worker, and only |queries| x k rows leave.

No reference counterpart (the reference stops at flat ranked/boolean
retrieval); ES-parity surface per the round-4 growth plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from dint_spark.facets import _DV_MISSING
from dint_spark.queries import (DocMask, _fold_queries, _quantized_order,
                                _scored_op)

NESTED_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("parent_id", T.LongType(), False),
    T.StructField("score_q", T.LongType(), False),
    T.StructField("n_children", T.LongType(), False),
])

SCORE_MODES = ("sum", "max", "min", "avg")


def run_nested_queries(
    spark: SparkSession, index, queries, parent_ords: np.ndarray,
    score_mode: str = "sum", min_children: int = 1, k: int = 10,
    dtype: str = "float64", quant: float = 1e9,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """ES ``nested`` / ``has_child``: child-level ranked-OR BM25, child
    scores quantized then rolled up per parent by ``score_mode``, parents
    with fewer than ``min_children`` matching children dropped, top-k
    parents by (rolled score desc, parent_id asc). Returns (query_id,
    rank, parent_id, score_q, n_children)."""
    if score_mode not in SCORE_MODES:
        raise ValueError(f"score_mode must be one of {SCORE_MODES}")
    if min_children < 1:
        raise ValueError("min_children must be >= 1")
    if len(parent_ords) != index.num_docs:
        raise ValueError(
            f"parent_ords cover {len(parent_ords)} docs, index has "
            f"{index.num_docs}")
    par_bc = spark.sparkContext.broadcast(
        np.ascontiguousarray(parent_ords, dtype=np.int64))
    mode, minc = score_mode, int(min_children)

    def per_query(item, docs, scores):
        par = par_bc.value[docs]
        owned = par != _DV_MISSING  # orphan children never join
        par = par[owned]
        if not len(par):
            return None
        cq = np.floor(scores[owned].astype(np.float64)
                      * quant).astype(np.int64)
        # docs (hence par) arrive docid-ascending; children of a parent
        # are a contiguous run ONLY under block layout, so group by value
        upar, inv, n_ch = np.unique(par, return_inverse=True,
                                    return_counts=True)
        if mode == "sum" or mode == "avg":
            rolled = np.zeros(len(upar), dtype=np.int64)
            np.add.at(rolled, inv, cq)
            if mode == "avg":
                rolled = rolled // n_ch  # floor division, SQL-exact
        else:
            fill = np.iinfo(np.int64).min if mode == "max" else \
                np.iinfo(np.int64).max
            rolled = np.full(len(upar), fill, dtype=np.int64)
            (np.maximum if mode == "max" else np.minimum).at(
                rolled, inv, cq)
        keep = n_ch >= minc
        upar, rolled, n_ch = upar[keep], rolled[keep], n_ch[keep]
        order = _quantized_order(upar, rolled, k)
        return (np.arange(1, len(order) + 1, dtype=np.int32), upar[order],
                rolled[order], n_ch[order])

    return _scored_op(spark, index, _fold_queries(queries), dtype,
                      doc_filter, per_query, NESTED_SCHEMA)


def children_of_parents_mask(parent_ords: np.ndarray,
                             parent_pred) -> DocMask:
    """ES ``has_parent``: lift a parent-level predicate to a child
    DocMask with one vectorized sidecar lookup. ``parent_pred`` is either
    a boolean array indexed by parent id or a vectorized callable over
    parent ids. Orphan children (missing parent ordinal) never match."""
    owned = parent_ords != _DV_MISSING
    m = np.zeros(len(parent_ords), dtype=bool)
    if callable(parent_pred):
        m[owned] = np.asarray(parent_pred(parent_ords[owned]), dtype=bool)
    else:
        pred = np.asarray(parent_pred, dtype=bool)
        par = parent_ords[owned]
        if len(par) and par.max() >= len(pred):
            raise ValueError(
                f"parent ordinal {int(par.max())} out of range for "
                f"predicate of {len(pred)} parents")
        m[owned] = pred[par]
    return DocMask.from_mask(m)
