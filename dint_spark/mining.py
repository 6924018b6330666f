"""Match-set term mining: significant terms and more-like-this.

Two Lucene/Elasticsearch-surface operators joining the boolean/ranked
kernels to the corpus table:

- ``significant_terms`` (ES significant_terms aggregation): per query,
  the terms most over-represented in the query's match set relative to
  the whole corpus, scored by JLH — the ES default —
  ``(fg_rate - bg_rate) * (fg_rate / bg_rate)`` with
  fg_rate = fg_df/n_matched and bg_rate = df/N, keeping only positively
  significant terms (fg_rate > bg_rate, decided EXACTLY in integer
  arithmetic so the cut replays in SQL).
- ``more_like_this`` (Lucene MoreLikeThis): given source documents,
  select their top ``max_terms`` terms by tf * (ln(N/(df+1)) + 1)
  (the Lucene MLT tf-idf), then rank the corpus with a weighted BM25
  disjunction through the engine's weighted-query channel, weight =
  source-doc tf (integer weights are bit-equal to the qf path), source
  doc excluded.

Scale shape at 10^12 docs: both ops are one corpus-table pass.
significant_terms joins the match set against the tokenized corpus on
doc_id (one shuffle of matched docs' DISTINCT terms, partial-aggregated
map-side) — the match set itself never collects; an optional
``max_fg_docs`` cap (lowest doc_ids — a deterministic, documented
sample) bounds the foreground the way ES's sampler aggregation does.
more_like_this BROADCASTS the |sources| ids against the corpus table
(the rm3_relevance_model shape) and only |sources| x max_terms rows
reach the driver. Vocabulary joins broadcast (dimension-sized).

No reference counterpart: the reference engine (fanhualta/dint) stops at
ranked/boolean retrieval (include/ds2i/queries.hpp:34-130); these are
engine-completeness scope (the builder brief's web-search surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dint_spark.queries import DocMask, run_boolean_queries, run_queries
from dint_spark.tokenizer import TOKEN_SPLIT_RE

__all__ = ["significant_terms", "mlt_terms", "more_like_this"]


def _doc_terms(docs_df: DataFrame, distinct: bool) -> "F.Column":
    toks = F.array_remove(
        F.split(F.lower(F.col("text")), TOKEN_SPLIT_RE), "")
    return F.array_distinct(toks) if distinct else toks


def significant_terms(
    spark: SparkSession,
    index,
    specs: list[list[int]],
    docs_df: DataFrame,
    k: int = 10,
    mode: str = "and",
    doc_filter: DocMask | None = None,
    max_fg_docs: int | None = None,
) -> DataFrame:
    """Per query, the top-``k`` significant terms of the match set:
    (query_id, rank, term_id, term, jlh_q, fg, df).

    The match set comes from the engine's own boolean kernel
    (``mode``="and"/"or" over term-id ``specs``); foreground document
    frequencies count each matched doc's DISTINCT terms from ``docs_df``
    (doc_id, text) under the index's tokenizer; background frequencies
    are the vocabulary's exact dfs. The query's own terms are excluded
    (they trivially top the list). Positive significance is decided as
    ``fg * N > df * n_fg`` in decimal(38) — exact at any scale, no
    double rounding at the boundary — and JLH quantizes to
    floor(jlh * 1e6) (i64-safe: fg_rate/bg_rate <= N). Ties break by
    term_id asc.
    """
    from pyspark.sql import Window

    n = int(index.num_docs)
    matched = run_boolean_queries(spark, index, specs, mode=mode,
                                  doc_filter=doc_filter)
    if max_fg_docs is not None:
        ws = Window.partitionBy("query_id").orderBy(F.asc("doc_id"))
        matched = (matched.withColumn("_rn", F.row_number().over(ws))
                   .where(F.col("_rn") <= max_fg_docs).drop("_rn"))
    nfg = matched.groupBy("query_id").agg(F.count("*").alias("n_fg"))

    fg = (
        docs_df.select("doc_id", "text").join(matched, "doc_id")
        .select("query_id",
                F.explode(_doc_terms(docs_df, distinct=True)).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("fg"))
    )
    vocab = index.vocab().select("term", "term_id", "df")
    qterms = spark.createDataFrame(
        [(qid, int(t)) for qid, ts in enumerate(specs) for t in set(ts)],
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("term_id", T.LongType(), False),
        ]),
    )
    dec = "decimal(38,0)"
    fg_rate = F.col("fg").cast("double") / F.col("n_fg")
    bg_rate = F.col("df").cast("double") / F.lit(float(n))
    jlh = (fg_rate - bg_rate) * (fg_rate / bg_rate)
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("jlh_q"), F.asc("term_id"))
    return (
        fg.join(F.broadcast(vocab), "term")
        .join(F.broadcast(nfg), "query_id")
        .join(F.broadcast(qterms), ["query_id", "term_id"], "left_anti")
        .where(F.col("fg").cast(dec) * n
               > F.col("df").cast(dec) * F.col("n_fg").cast(dec))
        .withColumn("jlh_q", F.floor(jlh * 1e6).cast("long"))
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "term_id", "term", "jlh_q", "fg", "df")
    )


def mlt_terms(
    spark: SparkSession,
    index,
    doc_ids: list[int],
    docs_df: DataFrame,
    max_terms: int = 25,
    min_tf: int = 2,
    min_df: int = 2,
    max_df_frac: float = 0.25,
) -> DataFrame:
    """The term-selection half of MoreLikeThis: per source doc (query_id
    = position in ``doc_ids``), the top-``max_terms`` terms by the Lucene
    MLT tf-idf  tf * (ln(N/(df+1)) + 1)  — floor-quantized at 1e9, ties
    by term asc — after the Lucene frequency gates (tf >= min_tf,
    min_df <= df <= max_df_frac * N). Returns a LAZY (query_id, term_id,
    term, tf, mlt_q) DataFrame; the source ids broadcast against the
    corpus table and only |sources| x max_terms rows survive."""
    from pyspark.sql import Window

    n = int(index.num_docs)
    src = spark.createDataFrame(
        [(i, int(d)) for i, d in enumerate(doc_ids)],
        schema=T.StructType([
            T.StructField("query_id", T.LongType(), False),
            T.StructField("doc_id", T.LongType(), False),
        ]),
    )
    tf = (
        docs_df.select("doc_id", "text").join(F.broadcast(src), "doc_id")
        .select("query_id",
                F.explode(_doc_terms(docs_df, distinct=False)).alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    vocab = index.vocab().select("term", "term_id", "df")
    mlt = (F.col("tf").cast("double")
           * (F.log(F.lit(float(n)) / (F.col("df") + 1)) + 1.0))
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("mlt_q"), F.asc("term"))
    return (
        tf.join(F.broadcast(vocab), "term")
        .where((F.col("tf") >= min_tf) & (F.col("df") >= min_df)
               & (F.col("df") <= int(max_df_frac * n)))
        .withColumn("mlt_q", F.floor(mlt * 1e9).cast("long"))
        .withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= max_terms)
        .select("query_id", "term_id", "term", "tf", "mlt_q")
    )


def more_like_this(
    spark: SparkSession,
    index,
    doc_ids: list[int],
    docs_df: DataFrame,
    k: int = 10,
    max_terms: int = 25,
    min_tf: int = 2,
    min_df: int = 2,
    max_df_frac: float = 0.25,
    algo: str = "block_max_wand_vec",
    dtype: str = "float64",
    doc_filter: DocMask | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Full MoreLikeThis: select each source doc's top MLT terms
    (``mlt_terms``), re-query as a weighted BM25 disjunction with
    weight = source-doc tf (integer weights run bit-equal to the qf
    path through the weighted kernel), exclude the source doc, and
    return the top-``k`` by (score_q desc, doc_id asc) with the engine's
    1e-9 score quantization. A source whose every term is gated away
    returns no rows (matching the SQL semantics)."""
    from pyspark.sql import Window

    sel = mlt_terms(spark, index, doc_ids, docs_df, max_terms=max_terms,
                    min_tf=min_tf, min_df=min_df,
                    max_df_frac=max_df_frac).collect()
    specs: list[list[tuple[int, float]]] = [[] for _ in doc_ids]
    for r in sel:
        specs[int(r["query_id"])].append((int(r["term_id"]),
                                          float(r["tf"])))
    specs = [sorted(s) for s in specs]

    raw = run_queries(spark, index, specs, algo=algo, k=2 * (k + 1),
                      dtype=dtype, doc_filter=doc_filter, weighted=True)
    if exclude_self:
        src = spark.createDataFrame(
            [(i, int(d)) for i, d in enumerate(doc_ids)],
            schema=T.StructType([
                T.StructField("query_id", T.LongType(), False),
                T.StructField("doc_id", T.LongType(), False),
            ]),
        )
        raw = raw.join(F.broadcast(src), ["query_id", "doc_id"],
                       "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id"))
    return (
        raw.withColumn("score_q",
                       F.floor(F.col("score").cast("double") * 1e9)
                       .cast("long"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "doc_id", "score_q")
    )
