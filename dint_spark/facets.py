"""Faceted search: per-facet-value match counts over the FULL match set.

The Lucene facets model (doc-values counting during collection, not a
post-hoc join): a facet column is materialized once as a per-doc ordinal
array (``DocFacets`` — u16/u32 ordinal per doc_id, built distributively
like queries.build_doc_filter, shipped once per worker like norm_lens),
and each query's matched docs are counted per ordinal with one bincount
inside the same per-query body that ran the boolean kernel — a body on
the one execute step (queries._execute: the index pin, tasks sized
by work). No (query_id, doc_id) match rows ever hit a shuffle or a join:
the operator returns one row per (query, facet value) directly.

Scale shape at 10^12 docs: the ordinal array is 2-4 bytes/doc and
shard-local under docid sharding — the exact bounding argument already
made for norm_lens and DocMask (2^24-doc shard = 32-64 MB). The facet
dimension table (ordinal -> value) is vocabulary-sized (languages,
domains, ...), broadcast-joined onto the tiny result.

No reference counterpart: the reference engine (fanhualta/dint) stops at
ranked/boolean retrieval (include/ds2i/queries.hpp:34-130); facets are
engine-completeness scope (the builder brief's web-search surface).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dint_spark.queries import (
    DocMask,
    _fold_queries,
    _match_op,
    _quantized_order,
    _scored_op,
)

_FACET_CHUNK = 1 << 19  # docs per aggregated chunk row (64 KiB-1 MiB each)


class DocFacets:
    """Per-doc facet ordinals: ``ords[doc_id] -> ordinal`` (u32), plus the
    ordinal->value dimension as a PARQUET SIDECAR — the driver never
    holds the value list. Docs with no facet value carry ordinal
    ``num_values`` (a reserved "missing" slot that is never emitted).

    Ordinal domain is u32: ``num_values`` must stay below 2^32 - 1 (one
    slot reserved for "missing"). That bounds a single facet dimension
    at ~4.29e9 distinct values — enough for every registered domain on
    the web (~10^8); a facet with more distinct values than that is a
    doc-unique field, not a facet, and build_doc_facets raises."""

    __slots__ = ("ords", "num_values", "dim_path", "spark")

    def __init__(self, ords: np.ndarray, num_values: int, dim_path: str,
                 spark: SparkSession):
        self.ords = np.asarray(ords, dtype=np.uint32)
        self.num_values = int(num_values)
        self.dim_path = dim_path
        self.spark = spark

    def dim(self) -> DataFrame:
        """The ordinal dimension (facet_ord long, facet string) — a
        parquet scan, joinable at any cardinality."""
        return self.spark.read.parquet(self.dim_path)

    @property
    def values(self) -> list[str]:
        """Driver-side value list, ordinal ASC — TEST/DEBUG ONLY (this
        collects the dimension; the engine paths never call it)."""
        return [r["facet"] for r in
                self.dim().orderBy("facet_ord").collect()]


def build_doc_facets(spark: SparkSession, docs: DataFrame, num_docs: int,
                     facet_col: str, id_col: str = "doc_id",
                     dim_path: str | None = None) -> DocFacets:
    """Distributed (doc_id, facet_value) -> DocFacets.

    Ordinals are assigned deterministically by facet value ASC via a
    DISTRIBUTED dense rank over the distinct values (ids.add_dense_index
    — range-partitioned sort, no driver collect, no single-partition
    window), persisted as a parquet dim sidecar (facet_ord, facet) at
    ``dim_path`` (when omitted, a fresh directory that Spark removes
    with the session). The per-doc ordinal
    join runs against that sidecar as a plain hash join — AQE broadcasts
    it when it is dimension-small, and a 10^8-value domain facet stays a
    shuffle join instead of an OOM. Each executor then packs its
    2^19-doc chunk of the ordinal array (groupBy chunk -> u32 tobytes);
    the driver assembles num_docs*4 bytes of ordinals and ONLY ever
    collects those packed chunk rows — never per-doc rows, never the
    value list. Raises when the facet cardinality exceeds the u32
    ordinal ceiling (2^32 - 1 values + the missing slot)."""
    from dint_spark.ids import add_dense_index

    if dim_path is None:
        import tempfile

        from pyspark import SparkFiles

        # under the driver's SparkFiles root, which Spark deletes when the
        # SparkContext stops or its JVM exits: the sidecar lives exactly
        # as long as the session whose DataFrames read it
        dim_path = tempfile.mkdtemp(prefix="dint_facet_dim_",
                                    dir=SparkFiles.getRootDirectory())
    distinct = (docs.select(F.col(facet_col).cast("string").alias("facet"))
                .where(F.col("facet").isNotNull()).distinct())
    (add_dense_index(distinct, [F.col("facet").asc()], "facet_ord")
     .select("facet_ord", "facet")
     .write.mode("overwrite").parquet(dim_path))
    dim = spark.read.parquet(dim_path)
    missing = dim.count()
    if missing >= (1 << 32) - 1:
        raise ValueError(
            f"facet {facet_col!r} has {missing} distinct values — beyond "
            "the u32 ordinal ceiling (2^32-1 incl. the missing slot); "
            "this is a doc-unique field, not a facet")
    chunk_rows = (
        docs.select(F.col(id_col).cast("long").alias("doc_id"),
                    F.col(facet_col).cast("string").alias("facet"))
        # parquet-dim hash join, not a literal map: AQE broadcasts the
        # dimension-small case; a web-scale domain facet shuffle-joins
        .join(dim, "facet", "left")
        .select("doc_id",
                F.coalesce("facet_ord", F.lit(missing)).alias("o"))
        .withColumn("chunk", F.shiftright("doc_id", 19))
        .groupBy("chunk")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        chunk = int(pdf["chunk"].iloc[0])
        ids = pdf["doc_id"].to_numpy()
        off = ids - (chunk << 19)
        arr = np.full(_FACET_CHUNK, missing, dtype=np.uint32)
        arr[off] = pdf["o"].to_numpy().astype(np.uint32)
        return pd.DataFrame({
            "chunk": [chunk],
            "max_id": [int(ids.max())],
            "ords": [arr.tobytes()],
        })

    rows = chunk_rows.applyInPandas(
        pack, "chunk long, max_id long, ords binary").collect()
    ords = np.full(num_docs, missing, dtype=np.uint32)
    for r in rows:
        c = int(r["chunk"])
        if int(r["max_id"]) >= num_docs:
            raise ValueError(
                f"facet doc_id {int(r['max_id'])} >= num_docs {num_docs}")
        lo = c << 19
        hi = min(lo + _FACET_CHUNK, num_docs)
        ords[lo:hi] = np.frombuffer(
            r["ords"], dtype=np.uint32)[: hi - lo]
    return DocFacets(ords, missing, dim_path, spark)


FACET_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("facet_ord", T.LongType(), False),
    T.StructField("n_docs", T.LongType(), False),
])


def run_facet_queries(
    spark: SparkSession, index, queries, facets: DocFacets,
    mode: str = "and", doc_filter: DocMask | None = None,
) -> DataFrame:
    """Boolean match + facet counting in one pass: returns
    (query_id, facet_value, n_docs) — the count of matching docs per facet
    value over the FULL match set (not a top-k sample), the search-page
    sidebar number. Missing-facet docs are matched but not counted under
    any value. Deletes/DocMask compose exactly as in run_boolean_queries.

    The kernel appends one np.bincount over the matched ids' ordinals to
    the boolean intersection — the match list never leaves the worker; the
    operator's output is |queries| x |facet values| rows."""
    _check_docs(index, facets.ords, "facets")
    ords_bc = spark.sparkContext.broadcast(facets.ords)
    nvals = facets.num_values

    def per_query(item, docs):
        counts = np.bincount(ords_bc.value[docs],
                             minlength=nvals + 1)[:nvals]
        nz = np.flatnonzero(counts)
        return nz.astype(np.int64), counts[nz].astype(np.int64)

    out = _match_op(spark, index, _fold_queries(queries), mode,
                    doc_filter, per_query, FACET_SCHEMA)
    # parquet-sidecar dim join (never a driver value list); AQE
    # broadcasts the dimension-small case
    return (out.join(facets.dim(), "facet_ord")
            .select("query_id", "facet", "n_docs"))


def _check_docs(index, arr, what: str) -> None:
    """A per-doc sidecar must cover exactly the index's docs."""
    if len(arr) != index.num_docs:
        raise ValueError(
            f"{what} cover {len(arr)} docs, index has {index.num_docs}")


# ---------------------------------------------------------------------------
# doc values: per-doc i64 field + sort-by-field retrieval
# ---------------------------------------------------------------------------

_DV_MISSING = np.iinfo(np.int64).min


def build_doc_values(spark: SparkSession, docs: DataFrame, num_docs: int,
                     val_col: str, id_col: str = "doc_id") -> np.ndarray:
    """Materialize a numeric doc field as a per-doc i64 array (the Lucene
    NumericDocValues model) — the sort/aggregation sidecar for
    run_sorted_queries. Built with the same distributed chunk pack as
    DocFacets/DocMask (each executor packs its 2^19-doc slice; the driver
    assembles num_docs x 8 bytes and never sees per-doc rows — 8 B/doc,
    shard-local under docid sharding, the norm_lens bounding argument).
    Docs absent from ``docs`` (or NULL) carry a reserved missing sentinel
    and are EXCLUDED from sorted results (ES missing-last semantics,
    minus the tail)."""
    chunk_rows = (
        docs.select(F.col(id_col).cast("long").alias("doc_id"),
                    F.col(val_col).cast("long").alias("v"))
        .where(F.col("v").isNotNull())
        .withColumn("chunk", F.shiftright("doc_id", 19))
        .groupBy("chunk")
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        chunk = int(pdf["chunk"].iloc[0])
        ids = pdf["doc_id"].to_numpy()
        off = ids - (chunk << 19)
        arr = np.full(_FACET_CHUNK, _DV_MISSING, dtype=np.int64)
        arr[off] = pdf["v"].to_numpy().astype(np.int64)
        return pd.DataFrame({
            "chunk": [chunk],
            "max_id": [int(ids.max())],
            "vals": [arr.tobytes()],
        })

    rows = chunk_rows.applyInPandas(
        pack, "chunk long, max_id long, vals binary").collect()
    vals = np.full(num_docs, _DV_MISSING, dtype=np.int64)
    for r in rows:
        c = int(r["chunk"])
        if int(r["max_id"]) >= num_docs:
            raise ValueError(
                f"doc-value doc_id {int(r['max_id'])} >= num_docs "
                f"{num_docs}")
        lo = c << 19
        hi = min(lo + _FACET_CHUNK, num_docs)
        vals[lo:hi] = np.frombuffer(r["vals"], dtype=np.int64)[: hi - lo]
    return vals


COLLAPSE_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("facet_ord", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score_q", T.LongType(), False),
])


def run_collapsed_queries(
    spark: SparkSession, index, queries, facets: DocFacets,
    k: int = 10, dtype: str = "float64", quant: float = 1e9,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Field collapsing (the ES ``collapse`` clause): BM25 OR retrieval
    returning the top-``k`` GROUPS per query — each facet value (e.g.
    domain) contributes at most its single best-scoring doc, groups rank
    by that representative's (score desc, doc_id asc). The result-page
    one-hit-per-site rule. Docs with a missing facet value form one
    shared null group (ES missing-key semantics; facet comes back NULL).

    Kernel shape: one exact scoring pass over the FULL match set
    (queries.matched_scores — the compacted ranked_or accumulation, no
    dense num_docs array), then per-group argmax + group ranking as two
    numpy lexsorts, all inside the same per-query body that decoded
    the postings. Only |queries| x k rows leave the workers; the ordinal
    sidecar ships once per worker (2-4 B/doc, shard-local under docid
    sharding). Selection runs in floor(score*quant) integer space so
    ranking is reproducible across hosts and matches the quantized SQL
    oracle exactly."""
    _check_docs(index, facets.ords, "facets")
    ords_bc = spark.sparkContext.broadcast(facets.ords)

    def per_query(item, docs, scores):
        sq = np.floor(scores.astype(np.float64) * quant).astype(np.int64)
        ords = ords_bc.value[docs].astype(np.int64)
        # best doc per group: first hit in (score desc, doc asc) order
        order = np.lexsort((docs, -sq))
        _, first = np.unique(ords[order], return_index=True)
        reps = order[np.sort(first)]
        # group ranking by the representative's (score desc, doc asc)
        gorder = reps[np.lexsort((docs[reps], -sq[reps]))][:k]
        return (np.arange(1, len(gorder) + 1, dtype=np.int32),
                ords[gorder], docs[gorder], sq[gorder])

    out = _scored_op(spark, index, _fold_queries(queries), dtype,
                     doc_filter, per_query, COLLAPSE_SCHEMA)
    # left join on the parquet-sidecar dim: the missing-value group
    # (ordinal == num_values) has no dimension row and surfaces as facet
    # NULL, the ES null group
    return (out.join(facets.dim(), "facet_ord", "left")
            .select("query_id", "rank", "facet", "doc_id", "score_q"))


GROUPED_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("group_rank", T.IntegerType(), False),
    T.StructField("facet_ord", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score_q", T.LongType(), False),
])


def run_grouped_topk(
    spark: SparkSession, index, queries, facets: DocFacets,
    k_groups: int = 10, per_group: int = 3, dtype: str = "float64",
    quant: float = 1e9, doc_filter: DocMask | None = None,
) -> DataFrame:
    """Field collapsing with inner hits (ES ``collapse`` +
    ``inner_hits``): the top-``k_groups`` facet groups per query (ranked
    by each group's best doc, the collapse rule), each carrying its own
    top-``per_group`` docs by (score desc, doc_id asc) — the
    "3 hits per site" result page. ``rank`` is the group's rank,
    ``group_rank`` the doc's position inside its group. Missing-value
    docs form the shared null group.

    Same kernel shape as run_collapsed_queries: one exact scoring pass
    over the full match set, then the grouping is a stable argsort by
    group over the score order + a vectorized within-group cumcount —
    no per-group Python. Output <= |queries| x k_groups x per_group
    rows."""
    _check_docs(index, facets.ords, "facets")
    if per_group < 1 or k_groups < 1:
        raise ValueError("k_groups and per_group must be >= 1")
    ords_bc = spark.sparkContext.broadcast(facets.ords)

    def per_query(item, docs, scores):
        sq = np.floor(scores.astype(np.float64) * quant).astype(np.int64)
        ords = ords_bc.value[docs].astype(np.int64)
        # global score order, then stable re-sort by group: groups come
        # out contiguous with members in score order
        order = np.lexsort((docs, -sq))
        grp_sorted = np.argsort(ords[order], kind="stable")
        rows = order[grp_sorted]
        g = ords[rows]
        starts = np.r_[0, np.flatnonzero(np.diff(g)) + 1]
        sizes = np.diff(np.r_[starts, len(g)])
        cum = np.arange(len(g)) - np.repeat(starts, sizes)
        keep = cum < per_group
        rows, g, cum = rows[keep], g[keep], cum[keep]
        # group rank = rank of each group's best member in the global
        # score order; leads are the cum==0 rows
        leads = rows[cum == 0]
        lead_order = np.lexsort((docs[leads], -sq[leads]))
        sel_groups = ords[leads[lead_order]][:k_groups]
        # vectorized ordinal -> group-rank lookup: sort the selected
        # ordinals once, searchsorted every kept row against them (g can
        # be num_groups x per_group long — 10^6+ domains at web scale —
        # so no per-row Python)
        sort_idx = np.argsort(sel_groups)
        sel_sorted = sel_groups[sort_idx]
        rank_sorted = np.arange(1, len(sel_groups) + 1,
                                dtype=np.int32)[sort_idx]
        pos = np.searchsorted(sel_sorted, g)
        pos_c = np.minimum(pos, len(sel_sorted) - 1)
        in_top = sel_sorted[pos_c] == g
        rows, g, cum, pos_c = (rows[in_top], g[in_top], cum[in_top],
                               pos_c[in_top])
        granks = rank_sorted[pos_c]
        out_order = np.lexsort((cum, granks))
        return (granks[out_order], (cum[out_order] + 1).astype(np.int32),
                g[out_order], docs[rows[out_order]], sq[rows[out_order]])

    out = _scored_op(spark, index, _fold_queries(queries), dtype,
                     doc_filter, per_query, GROUPED_SCHEMA)
    return (out.join(facets.dim(), "facet_ord", "left")
            .select("query_id", "rank", "group_rank", "facet", "doc_id",
                    "score_q"))


RANGE_FACET_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("lo", T.LongType(), False),
    T.StructField("hi", T.LongType(), False),
    T.StructField("n_docs", T.LongType(), False),
])


def run_range_facet_queries(
    spark: SparkSession, index, queries, values: np.ndarray,
    edges: list[int], mode: str = "and",
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Numeric range facets (the ES ``range``/histogram aggregation):
    per query, the count of matching docs whose doc value falls in each
    half-open bucket ``[edges[i], edges[i+1])`` — computed over the FULL
    match set in the same kernel pass as the boolean intersection. Bucketing
    is one ``np.searchsorted`` + ``np.bincount`` over the matched ids'
    values; the match list never leaves the worker, and the output is
    |queries| x |buckets| rows. Docs with a missing value, or a value
    outside ``[edges[0], edges[-1])``, are matched but fall in no bucket
    (ES range-agg semantics). Empty buckets are omitted.

    Scale shape: the i64 value array is the 8 B/doc doc-values sidecar
    from build_doc_values (shard-local under docid sharding, the
    norm_lens bounding argument); edges are a handful of literals."""
    edges_arr = np.asarray(edges, dtype=np.int64)
    if len(edges_arr) < 2 or np.any(np.diff(edges_arr) <= 0):
        raise ValueError("edges must be >=2 strictly increasing values")
    vals_bc = _values_bc(spark, index, values)
    nbuckets = len(edges_arr) - 1

    def per_query(item, docs):
        # searchsorted 'right' maps edges[i] <= v < edges[i+1] -> i+1;
        # 0 (below, incl. the missing sentinel = i64 min) and
        # nbuckets+1 (>= edges[-1]) are dropped
        b = np.searchsorted(edges_arr, vals_bc.value[docs], side="right")
        counts = np.bincount(b, minlength=nbuckets + 2)[1:nbuckets + 1]
        nz = np.flatnonzero(counts)
        return (nz.astype(np.int32), edges_arr[nz], edges_arr[nz + 1],
                counts[nz].astype(np.int64))

    return _match_op(spark, index, _fold_queries(queries), mode,
                     doc_filter, per_query, RANGE_FACET_SCHEMA)


STATS_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("n_docs", T.LongType(), False),
    T.StructField("n_valued", T.LongType(), False),
    T.StructField("vsum", T.LongType(), False),
    T.StructField("vmin", T.LongType(), True),
    T.StructField("vmax", T.LongType(), True),
])


def run_stats_queries(
    spark: SparkSession, index, queries, values: np.ndarray,
    mode: str = "and", doc_filter: DocMask | None = None,
    extended: bool = False,
) -> DataFrame:
    """The ES ``stats`` aggregation over the FULL match set: per query,
    the matched-doc count plus count/sum/min/max of the doc value over
    matched docs that carry one (missing-value docs count in ``n_docs``
    but join no statistic — ES missing semantics; avg = vsum/n_valued
    is left to the caller so every output stays exact-integer). One
    vectorized pass appended to the boolean kernel; output is ONE row
    per query — nothing per-doc ever leaves a worker. vmin/vmax are
    NULL when no matched doc has a value.

    ``extended=True`` adds ``vsumsq`` (exact int64 sum of squared
    values) — the ES ``extended_stats`` aggregation: variance =
    (n*vsumsq - vsum^2) / n^2 and std follow from the integer
    invariants caller-side (int64-safe up to ~2*10^6 docs at values
    <= ~2*10^6; beyond that the kernel would carry the sum in two
    limbs — same pattern, not needed at the gate's value domain)."""
    vals_bc = _values_bc(spark, index, values)
    out_schema = STATS_SCHEMA
    if extended:
        out_schema = T.StructType(
            list(STATS_SCHEMA.fields)
            + [T.StructField("vsumsq", T.LongType(), False)])

    def per_query(item, docs):
        if not len(docs):
            return None
        v = vals_bc.value[docs]
        v = v[v != _DV_MISSING]
        # object columns: a NULL min/max beside exact int64 values
        row = [[len(docs)], [len(v)], [int(v.sum()) if len(v) else 0],
               np.array([int(v.min()) if len(v) else None], dtype=object),
               np.array([int(v.max()) if len(v) else None], dtype=object)]
        if extended:
            row.append([int((v * v).sum()) if len(v) else 0])
        return row

    return _match_op(spark, index, _fold_queries(queries), mode,
                     doc_filter, per_query, out_schema)


CARD_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("n_docs", T.LongType(), False),
    T.StructField("n_distinct", T.LongType(), False),
])


def run_cardinality_queries(
    spark: SparkSession, index, queries, values: np.ndarray,
    mode: str = "and", doc_filter: DocMask | None = None,
) -> DataFrame:
    """The ES ``cardinality`` aggregation over the FULL match set,
    EXACT (unlike ES's default HLL approximation — exactness is what
    lets the SQL oracle gate it; the corpus-level mergeable-HLL path
    lives in ops.events.events_cardinality): per query, the matched-doc
    count and the number of DISTINCT doc values among matched docs that
    carry one. One np.unique over the matched ids' values in-kernel;
    ONE row per query leaves the worker. Missing-value docs count in
    ``n_docs`` but contribute no value (ES missing semantics)."""
    vals_bc = _values_bc(spark, index, values)

    def per_query(item, docs):
        if not len(docs):
            return None
        v = vals_bc.value[docs]
        return [len(docs)], [len(np.unique(v[v != _DV_MISSING]))]

    return _match_op(spark, index, _fold_queries(queries), mode,
                     doc_filter, per_query, CARD_SCHEMA)


def run_keyword_sorted_queries(
    spark: SparkSession, index, queries, facets: DocFacets,
    k: int = 10, mode: str = "and", descending: bool = False,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Sort-by-KEYWORD retrieval (the ES ``sort: [{field.keyword:
    asc}]`` mode): the facet ordinal array IS an order-isomorphic i64
    doc value (ordinals are assigned by facet value ASC in
    build_doc_facets), so keyword sorting reuses run_sorted_queries
    verbatim — missing-facet docs map to the missing sentinel and never
    rank — and the k-row output joins the broadcast ordinal->value
    dimension to surface the keyword. Returns (query_id, rank, doc_id,
    keyword)."""
    ords = facets.ords.astype(np.int64)
    ords[ords == facets.num_values] = _DV_MISSING
    res = run_sorted_queries(spark, index, queries, ords, k=k,
                             mode=mode, descending=descending,
                             doc_filter=doc_filter)
    dim = facets.dim().select(F.col("facet_ord").alias("val"),
                              F.col("facet").alias("keyword"))
    return (res.join(dim, "val")
            .select("query_id", "rank", "doc_id", "keyword"))


def run_percentile_queries(
    spark: SparkSession, index, queries, values: np.ndarray,
    ps: tuple = (25, 50, 75, 95), mode: str = "and",
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """The ES ``percentiles`` aggregation, EXACT (nearest-rank, not the
    t-digest approximation ES defaults to — exactness is what makes the
    SQL oracle able to gate it): per query, the value at sorted position
    ceil(p/100 * n) over the matched docs that carry a value. One sort
    of the valued match set in-kernel; ONE integer row per query out;
    queries with no valued match emit no row. Returns
    (query_id, n_valued, p<p1>, p<p2>, ...)."""
    ps = tuple(int(p) for p in ps)
    if not ps or any(p < 1 or p > 100 for p in ps):
        raise ValueError("percentiles must be in 1..100")
    pcols = [f"p{p}" for p in ps]
    schema = T.StructType(
        [T.StructField("query_id", T.LongType(), False),
         T.StructField("n_valued", T.LongType(), False)]
        + [T.StructField(c, T.LongType(), False) for c in pcols])
    vals_bc = _values_bc(spark, index, values)

    def per_query(item, docs):
        v = vals_bc.value[docs]
        v = np.sort(v[v != _DV_MISSING])
        n = len(v)
        if not n:
            return None
        # nearest-rank: the value at 1-based rank ceil(p/100 * n)
        return [[n]] + [[int(v[-(-p * n // 100) - 1])] for p in ps]

    return _match_op(spark, index, _fold_queries(queries), mode,
                     doc_filter, per_query, schema)


BOOSTED_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score_q", T.LongType(), False),
])


def run_boosted_queries(
    spark: SparkSession, index, queries, values: np.ndarray,
    factor: float = 1.0, k: int = 10, dtype: str = "float64",
    quant: float = 1e9, doc_filter: DocMask | None = None,
) -> DataFrame:
    """Function score (the ES ``function_score`` / ``field_value_factor``
    pattern with the log1p modifier): every matched doc's BM25 score is
    multiplied by ln(1 + factor * doc_value) — the recency/popularity
    boost every ranking pipeline eventually adds. Docs with a missing
    value take a NEUTRAL multiplier of 1.0 (they rank by BM25 alone
    rather than vanishing — the ES ``missing`` parameter's sane
    default). Selection in floor(score*quant) integer space.

    One exact scoring pass (queries.matched_scores) + one vectorized
    value lookup in-kernel; the i64 doc-values sidecar ships once per
    worker. Only |queries| x k rows leave. Returns
    (query_id, rank, doc_id, score_q)."""
    fac = float(factor)

    def mult_fn(v: np.ndarray) -> np.ndarray:
        return np.log1p(fac * v.astype(np.float64))

    return _function_score_queries(spark, index, queries, values, mult_fn,
                                   k=k, dtype=dtype, quant=quant,
                                   doc_filter=doc_filter)


def run_decay_queries(
    spark: SparkSession, index, queries, values: np.ndarray,
    origin: float, scale: float, decay: float = 0.5, offset: float = 0.0,
    k: int = 10, dtype: str = "float64", quant: float = 1e9,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """ES ``function_score`` GAUSS decay (the recency/geo-proximity
    shape): every matched doc's BM25 score is multiplied by
    exp(-max(0, |value - origin| - offset)^2 / (2 sigma^2)) with
    sigma^2 = -scale^2 / (2 ln(decay)) — so the multiplier is exactly
    ``decay`` at distance ``scale`` past the offset, the documented ES
    parameterization. Missing-value docs take the NEUTRAL multiplier
    1.0 (the ES ``missing`` default). Same kernel as
    run_boosted_queries; only the vectorized multiplier differs."""
    if not (0.0 < decay < 1.0):
        raise ValueError("decay must be in (0, 1)")
    lam = -np.log(decay) / (float(scale) ** 2)  # 1/(2 sigma^2)
    org, off = float(origin), float(offset)

    def mult_fn(v: np.ndarray) -> np.ndarray:
        d = np.maximum(np.abs(v.astype(np.float64) - org) - off, 0.0)
        return np.exp(-(d * d) * lam)

    return _function_score_queries(spark, index, queries, values, mult_fn,
                                   k=k, dtype=dtype, quant=quant,
                                   doc_filter=doc_filter)


def run_rank_feature_queries(
    spark: SparkSession, index, queries, values: np.ndarray,
    boost: float = 1.0, pivot: float = 128.0, k: int = 10,
    dtype: str = "float64", quant: float = 1e9,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """The ES ``rank_feature`` query with the ``saturation`` function:
    every matched doc's score becomes BM25 + boost * v/(v + pivot) — an
    ADDITIVE static-signal contribution (pagerank/url-length/quality
    features), unlike function_score's multiplicative shapes. The
    saturation reaches 0.5 exactly at v == pivot (the ES contract);
    missing-value docs add 0 and rank by BM25 alone. Same kernel as
    the boost/decay scorers."""
    b, p = float(boost), float(pivot)

    def add_fn(v: np.ndarray) -> np.ndarray:
        vv = v.astype(np.float64)
        return b * (vv / (vv + p))

    return _function_score_queries(spark, index, queries, values,
                                   mult_fn=None, add_fn=add_fn, k=k,
                                   dtype=dtype, quant=quant,
                                   doc_filter=doc_filter)


def _function_score_queries(
    spark: SparkSession, index, queries, values: np.ndarray,
    mult_fn=None, add_fn=None,
    k: int = 10, dtype: str = "float64", quant: float = 1e9,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Shared function-score kernel: one exact BM25 pass over the full
    match set (queries.matched_scores), one vectorized doc-value lookup,
    then score * mult_fn(values) + add_fn(values) applied in-kernel
    (missing values always take the neutral multiplier 1.0 / addend 0.0
    — neither fn ever sees the sentinel), quantized integer selection.
    Only |queries| x k rows leave the workers."""
    vals_bc = _values_bc(spark, index, values)

    def per_query(item, docs, scores):
        v = vals_bc.value[docs]
        mult = np.ones(len(v), dtype=np.float64)
        add = np.zeros(len(v), dtype=np.float64)
        valued = v != _DV_MISSING
        if valued.any():  # the fns never see the missing sentinel
            if mult_fn is not None:
                mult[valued] = mult_fn(v[valued])
            if add_fn is not None:
                add[valued] = add_fn(v[valued])
        sq = np.floor((scores.astype(np.float64) * mult + add)
                      * quant).astype(np.int64)
        order = _quantized_order(docs, sq, k)
        return (np.arange(1, len(order) + 1, dtype=np.int32),
                docs[order].astype(np.int64), sq[order])

    return _scored_op(spark, index, _fold_queries(queries), dtype,
                      doc_filter, per_query, BOOSTED_SCHEMA)


SORTED_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("rank", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("val", T.LongType(), False),
])


def run_sorted_queries(
    spark: SparkSession, index, queries, values: np.ndarray,
    k: int = 10, mode: str = "and", descending: bool = True,
    doc_filter: DocMask | None = None,
) -> DataFrame:
    """Sort-by-field retrieval (the ES ``sort: [{field: desc}]`` mode):
    boolean match + top-``k`` by (doc value desc|asc, doc_id asc) in ONE
    kernel pass — the value array ships once per worker like norm_lens,
    the FULL match set is ranked in-kernel (np.argpartition over matched
    ids' values), and only |queries| x k rows leave the workers. Docs
    with a missing value never rank. Composes with tombstones/DocMask
    through the boolean kernel. Returns (query_id, rank, doc_id, val)."""
    vals_bc = _values_bc(spark, index, values)
    sign = -1 if descending else 1

    def per_query(item, docs):
        v = vals_bc.value[docs]
        valued = v != _DV_MISSING
        docs, v = docs[valued], v[valued]
        if len(docs) > 4 * k and k > 0:
            # O(n) preselect on the value alone, then exact-order only
            # the survivors: keep EVERY doc at or above the k-th value so
            # doc_id tie-breaks at the boundary stay exact
            key = sign * v
            thr = key[np.argpartition(key, k - 1)[k - 1]]
            keep = np.flatnonzero(key <= thr)
            docs, v = docs[keep], v[keep]
        order = np.lexsort((docs, sign * v))[:k]
        return (np.arange(1, len(order) + 1, dtype=np.int32), docs[order],
                v[order])

    return _match_op(spark, index, _fold_queries(queries), mode,
                     doc_filter, per_query, SORTED_SCHEMA)


def _values_bc(spark, index, values):
    """Broadcast of a per-doc i64 doc-values sidecar covering the index."""
    _check_docs(index, values, "values")
    return spark.sparkContext.broadcast(
        np.ascontiguousarray(values, dtype=np.int64))
