"""Driver contract for the spark-graft builder (PySpark target).

Every entry runs the real dint_spark engine (tokenize -> postings -> DINT
compression -> segment queries) over the driver's `documents` table, and has
a DuckDB-runnable ANSI-SQL oracle that recomputes the same result from first
principles. The index build is cached per sf_dir under /tmp.

Ranked-retrieval entries score in float64 so the SQL oracle (float64) ranks
identically; the engine's reference float32 path is exercised by
tests/ (rank-identical vs the exhaustive float32 oracle). Scores are
quantized to 1e-9 before ranking on BOTH sides so last-ulp accumulation
differences between engines cannot flip ranks, and outputs carry only
integer columns.
"""

from __future__ import annotations

import logging
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

import dint_spark
from dint_spark.corpus import pages_from_documents
from dint_spark.index import IndexConfig, build_index, load_index
from dint_spark.queries import decoded_postings, run_boolean_queries, run_queries
from dint_spark.tokenizer import TOKEN_SPLIT_RE, tokenize

# ---------------------------------------------------------------------------
# fixed query workload (term_ids are dense ranks by (df desc, term asc);
# the documents vocabulary has 31 terms at every sf)
# ---------------------------------------------------------------------------
QUERY_SPECS: list[list[int]] = [
    [0],
    [1, 3],
    [2, 5, 9],
    [0, 4, 7],
    [3, 6, 8, 12],
    [1, 2, 4, 8, 16],
    [5, 5, 10],          # duplicate term -> query_freqs multiplicity
    [9, 11, 13, 17, 19],
    [21, 23],
    [0, 1, 2, 3, 4],
    [30],
    [28, 29, 30],
    [6, 14],
    [7, 15, 22, 25],
    [10, 20, 30],
]

TOPK = 10

_INDEX_CACHE: dict[tuple, object] = {}
_log = logging.getLogger(__name__)


def _cached_entry_index(spark, sf_dir, suffix: str | None, build_fn,
                        loader=load_index, marker: str = "manifest.json"):
    """The load-or-build-or-rebuild idiom of every entry index: one
    in-memory cache keyed by (sf dir, ``suffix``) over the version-tagged
    dir /tmp/dint_spark_entry/<sf>[-<suffix>]-v<version>. A dir holding
    ``marker`` opens through ``loader(spark, dir)``; one that fails to
    open is corruption, not a cache miss: logged, cleared, rebuilt. A
    loader may return None for a dir to clear silently (an uncommitted
    build). ``build_fn(dir, tag)`` builds fresh."""
    key = (os.path.abspath(sf_dir), suffix)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    base = os.path.basename(key[0].rstrip("/"))
    tag = (f"{base}-{suffix}" if suffix else base) + \
        f"-v{dint_spark.__version__}"
    d = os.path.join("/tmp/dint_spark_entry", tag)
    idx = None
    if os.path.exists(os.path.join(d, marker)):
        try:
            idx = loader(spark, d)
        except Exception as e:
            _log.warning("corrupt cached index at %s: %r; rebuilding", d, e)
        if idx is None:
            shutil.rmtree(d, ignore_errors=True)
    if idx is None:
        idx = build_fn(d, tag)
    _INDEX_CACHE[key] = idx
    return idx


def _get_index(spark: SparkSession, sf_dir: str):
    return _cached_entry_index(
        spark, sf_dir, None,
        lambda out, tag: build_index(
            spark, pages_from_documents(_documents(spark, sf_dir)), out,
            IndexConfig(num_buckets=4, input_tag=tag)))


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _ranked(spark, sf_dir, algo):
    """Engine top-k in float64 mode -> quantized rank -> integer output."""
    idx = _get_index(spark, sf_dir)
    raw = run_queries(spark, idx, QUERY_SPECS, algo=algo, k=100, dtype="float64")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id")
    )
    return (
        raw.withColumn("score_q", F.floor(F.col("score") * 1e9).cast("long"))
        .withColumn("qrank", F.row_number().over(w))
        .where(F.col("qrank") <= TOPK)
        .select(
            "query_id",
            F.col("qrank").cast("int").alias("rank"),
            "doc_id",
            "score_q",
        )
    )


# ---------------------------------------------------------------------------
# SQL oracle building blocks (DuckDB dialect, ANSI-ish)
# ---------------------------------------------------------------------------

_PRELUDE = """
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS term
  FROM documents
),
toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks2 GROUP BY 1, 2),
dl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS len
  FROM documents d LEFT JOIN toks2 t ON d.doc_id = t.doc_id
  GROUP BY 1
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         avg(len) AS avg_len
  FROM dl
),
vocab AS (
  SELECT term, count(*)::BIGINT AS df,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1 AS term_id
  FROM tf GROUP BY term
)
"""


def _q_values() -> str:
    from collections import Counter

    rows = []
    for qid, terms in enumerate(QUERY_SPECS):
        for t, qf in sorted(Counter(terms).items()):
            rows.append(f"({qid}, {t}, {qf})")
    return "qs(query_id, term_id, qf) AS (VALUES " + ", ".join(rows) + ")"


def _scored_cte(where: str = "") -> str:
    """The BM25 scoring CTE; ``where`` filters candidate docs WITHOUT
    touching the stats/vocab CTEs (the tombstone oracle: stale statistics,
    live-only results)."""
    return f"""
, {_q_values()},
scored AS (
  SELECT qs.query_id, tf.doc_id,
         count(*)::BIGINT AS matched,
         sum(
           qs.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM qs
  JOIN vocab v ON v.term_id = qs.term_id
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  {where}
  GROUP BY 1, 2
)
"""


_SCORED = _scored_cte()


def _synonyms_sql() -> str:
    """Synonym-expanded weighted BM25, operation-matched to
    search.search_synonyms: per-token weight 1.0 + SYN_WEIGHT per synonym
    occurrence, summed per term (binary-fraction weights — exact in any
    order), scored through the weighted-kernel formula."""
    syn_vals = ", ".join(
        f"('{t}', '{s}')" for t, alts in sorted(SYNONYM_MAP.items())
        for s in alts)
    q_vals = ", ".join(f"({i}, '{s}')"
                       for i, s in enumerate(SYN_QUERY_SPECS))
    return (
        _PRELUDE
        + f"""
, synmap(term, syn) AS (VALUES {syn_vals}),
qraw AS (SELECT * FROM (VALUES {q_vals}) AS t(query_id, qtext)),
qtok AS (
  SELECT query_id,
         unnest(string_split_regex(lower(qtext), '[^0-9a-z]+')) AS term
  FROM qraw
),
qtok2 AS (SELECT query_id, term FROM qtok WHERE term <> ''),
contrib AS (
  SELECT query_id, term, 1.0::DOUBLE AS w FROM qtok2
  UNION ALL
  SELECT q.query_id, s.syn AS term, {SYN_WEIGHT}::DOUBLE AS w
  FROM qtok2 q JOIN synmap s ON s.term = q.term
),
wq AS (
  SELECT c.query_id, v.term_id, sum(c.w) AS w
  FROM contrib c JOIN vocab v ON v.term = c.term
  GROUP BY 1, 2
),
wscored AS (
  SELECT w.query_id, tf.doc_id,
         sum(
           w.w * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM wq w
  JOIN vocab v ON v.term_id = w.term_id
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT r.query_id, r.doc_id,
         floor(r.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY r.query_id
           ORDER BY floor(r.score * 1e9) DESC, r.doc_id ASC
         )::INT AS rank
  FROM wscored r
) ranked
WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""
    )


def _rm3_sql() -> str:
    """The full RM3 loop in SQL, operation-matched to search.rm3_expand +
    the weighted BM25 kernel: quantized feedback cut, uniform-prior
    relevance model (tf/len summed per term / n_fb, quantized 1e-12),
    (pq desc, term asc) top-N, interpolated weights, weighted rescoring."""
    a = RM3_A
    one_minus_a = 1.0 - RM3_A
    return (
        _PRELUDE + _SCORED
        + f"""
, cands AS (
  SELECT query_id, doc_id FROM (
    SELECT r.query_id, r.doc_id,
           row_number() OVER (
             PARTITION BY r.query_id
             ORDER BY floor(r.score * 1e9) DESC, r.doc_id ASC
           ) AS crank
    FROM scored r
  ) c WHERE crank <= {RM3_FB_DOCS}
),
ftoks AS (
  SELECT c.query_id, c.doc_id, t.term
  FROM cands c JOIN toks2 t ON t.doc_id = c.doc_id
),
ftf AS (SELECT query_id, doc_id, term, count(*)::BIGINT AS tf
        FROM ftoks GROUP BY 1, 2, 3),
fdl AS (SELECT query_id, doc_id, count(*)::BIGINT AS len
        FROM ftoks GROUP BY 1, 2),
nfb AS (SELECT query_id, count(*)::BIGINT AS n_fb FROM cands GROUP BY 1),
rm AS (
  SELECT f.query_id, f.term,
         floor(sum(f.tf / d.len) / max(n.n_fb) * 1e12)::BIGINT AS pq
  FROM ftf f
  JOIN fdl d ON d.query_id = f.query_id AND d.doc_id = f.doc_id
  JOIN nfb n ON n.query_id = f.query_id
  GROUP BY 1, 2
),
topn AS (
  SELECT query_id, term, pq FROM (
    SELECT query_id, term, pq,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY pq DESC, term ASC) AS rn
    FROM rm
  ) t WHERE rn <= {RM3_FB_TERMS}
),
qlen AS (SELECT query_id, sum(qf)::BIGINT AS ql FROM qs GROUP BY 1),
wexp AS (
  SELECT t.query_id, v.term_id, t.pq
  FROM topn t JOIN vocab v ON v.term = t.term
),
wq AS (
  SELECT coalesce(o.query_id, e.query_id) AS query_id,
         coalesce(o.term_id, e.term_id) AS term_id,
         coalesce({a} * (o.qf / l.ql), 0)
           + coalesce({one_minus_a} * (e.pq / 1e12), 0) AS w
  FROM qs o
  FULL OUTER JOIN wexp e
    ON e.query_id = o.query_id AND e.term_id = o.term_id
  JOIN qlen l ON l.query_id = coalesce(o.query_id, e.query_id)
),
wscored AS (
  SELECT w.query_id, tf.doc_id,
         sum(
           w.w * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM wq w
  JOIN vocab v ON v.term_id = w.term_id
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT r.query_id, r.doc_id,
         floor(r.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY r.query_id
           ORDER BY floor(r.score * 1e9) DESC, r.doc_id ASC
         )::INT AS rank
  FROM wscored r
) ranked
WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""
    )


def _lm_scored(mu: float = 2000.0) -> str:
    """Query-likelihood/Dirichlet scoring CTE (matched-docs-only form) —
    mirrors queries.run_queries_lm operation-for-operation: cf_t/C in
    exact integer-to-double division, ln(1 + tf/(mu*(cf/C))) per matched
    term, plus |q|*ln(mu/(mu+len)) once per matched doc."""
    return f"""
, {_q_values()},
coll AS (SELECT sum(len)::BIGINT AS c FROM dl),
cf AS (SELECT term, sum(tf)::BIGINT AS cf FROM tf GROUP BY term),
qlen AS (SELECT query_id, sum(qf)::BIGINT AS ql FROM qs GROUP BY 1),
lm1 AS (
  SELECT qs.query_id, tf.doc_id,
         sum(qs.qf * ln(1 + tf.tf / ({mu} * (cf.cf / coll.c)))) AS s1
  FROM qs
  JOIN vocab v ON v.term_id = qs.term_id
  JOIN tf ON tf.term = v.term
  JOIN cf ON cf.term = v.term
  CROSS JOIN coll
  GROUP BY 1, 2
),
scored AS (
  SELECT p.query_id, p.doc_id,
         p.s1 + q.ql * ln({mu} / ({mu} + dl.len)) AS score
  FROM lm1 p
  JOIN qlen q ON q.query_id = p.query_id
  JOIN dl ON dl.doc_id = p.doc_id
)
"""

# the surviving corpus after the driver's deterministic tombstone set
# (doc_id % 7 == 3), with doc ids re-ranked densely in old-id order —
# exactly compact_index's contract (dint_spark/compact.py): term ids,
# doclens, N, df and avg_len all recompute over the survivors
_PRELUDE_LIVE = """
WITH live_docs AS (
  SELECT row_number() OVER (ORDER BY doc_id) - 1 AS doc_id, text
  FROM documents WHERE doc_id % 7 <> 3
),
toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS term
  FROM live_docs
),
toks2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks2 GROUP BY 1, 2),
dl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS len
  FROM live_docs d LEFT JOIN toks2 t ON d.doc_id = t.doc_id
  GROUP BY 1
),
stats AS (
  SELECT (SELECT count(*) FROM live_docs)::BIGINT AS n_docs,
         avg(len) AS avg_len
  FROM dl
),
vocab AS (
  SELECT term, count(*)::BIGINT AS df,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1 AS term_id
  FROM tf GROUP BY term
)
"""


def _topk_and_sql() -> str:
    return (
        _PRELUDE
        + _SCORED
        + f"""
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT r.query_id, r.doc_id,
         floor(r.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY r.query_id
           ORDER BY floor(r.score * 1e9) DESC, r.doc_id ASC
         )::INT AS rank
  FROM scored r
  WHERE r.matched = (
    SELECT count(*) FROM qs q2 WHERE q2.query_id = r.query_id
  )
) ranked
WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""
    )


def _topk_or_sql(prelude: str | None = None, scored: str | None = None) -> str:
    return (
        (prelude if prelude is not None else _PRELUDE)
        + (scored if scored is not None else _SCORED)
        + f"""
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT r.query_id, r.doc_id,
         floor(r.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY r.query_id
           ORDER BY floor(r.score * 1e9) DESC, r.doc_id ASC
         )::INT AS rank
  FROM scored r
) ranked
WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: block-max WAND BM25 top-10 (reference float32 path) over the
    DINT-compressed index built from sf0.001 documents."""
    idx = _get_index(spark, "/root/testdata/sf0.001")
    return run_queries(spark, idx, QUERY_SPECS, algo="block_max_wand", k=TOPK)


def _entry_term_stats(spark, sf_dir):
    docs = tokenize(_documents(spark, sf_dir))
    ex = docs.select("doc_id", F.explode("tokens").alias("term"))
    return ex.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("total_tf"),
    )


TV_DOC_IDS = [0, 3, 7, 11, 19, 23, 31, 42]  # valid at every sf (>=50 docs)


def _entry_term_vectors(spark, sf_dir):
    """ES _termvectors: per requested doc, one row per term with its
    in-doc frequency plus the term's corpus statistics (df from the
    index vocabulary, ttf = total term frequency). The doc-side fetch is
    a pushed-down point lookup on the documents table re-analyzed
    through the index tokenizer (the ES realtime-termvectors path); the
    corpus stats join is broadcast (vocabulary-sized); ttf IS index
    metadata computed at build time (build_vocab carries df and ttf),
    so no corpus data is touched at query time (corpus-aggregate
    fallback kept for pre-ttf index layouts)."""
    idx = _get_index(spark, sf_dir)
    req = tokenize(_documents(spark, sf_dir)).where(
        F.col("doc_id").isin(TV_DOC_IDS))
    tf = (req.select("doc_id", F.explode("tokens").alias("term"))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    if "ttf" in idx.vocab().columns:
        # ttf is build-time index metadata (build_vocab, round 3) — the
        # stats join touches NO corpus data at query time
        vocab = idx.vocab().select("term", "df", "ttf")
        return (tf.join(F.broadcast(vocab), "term")
                .select("doc_id", "term", "tf", "df", "ttf"))
    # pre-ttf index layouts: fall back to the corpus aggregate
    ttf = (tokenize(_documents(spark, sf_dir))
           .select(F.explode("tokens").alias("term"))
           .groupBy("term").agg(F.count("*").alias("ttf")))
    vocab = idx.vocab().select("term", "df")
    return (tf.join(F.broadcast(vocab), "term")
            .join(F.broadcast(ttf), "term")
            .select("doc_id", "term", "tf", "df", "ttf"))


def _term_vectors_sql() -> str:
    ids = ", ".join(str(i) for i in TV_DOC_IDS)
    return (_PRELUDE + f"""
, ts AS (SELECT term, sum(tf)::BIGINT AS ttf FROM tf GROUP BY 1)
SELECT tf.doc_id, tf.term, tf.tf::BIGINT AS tf, v.df, ts.ttf
FROM tf
JOIN vocab v ON v.term = tf.term
JOIN ts ON ts.term = tf.term
WHERE tf.doc_id IN ({ids})
ORDER BY tf.doc_id, tf.term
""")


def _entry_doclens(spark, sf_dir):
    return tokenize(_documents(spark, sf_dir)).select(
        "doc_id", F.size("tokens").cast("long").alias("len")
    )


def _entry_vocab(spark, sf_dir):
    idx = _get_index(spark, sf_dir)
    return idx.vocab().select("term_id", "term", "df")


def _entry_postings_flat(spark, sf_dir):
    """Uncompressed postings from the checkpointed shuffle core."""
    idx = _get_index(spark, sf_dir)
    postings = spark.read.parquet(os.path.join(idx.dir, "postings.parquet"))
    z = postings.select(
        "term_id", F.explode(F.arrays_zip("doc_ids", "freqs")).alias("p")
    )
    return z.select(
        "term_id",
        F.col("p.doc_ids").alias("doc_id"),
        F.col("p.freqs").cast("long").alias("freq"),
    )


def _entry_roundtrip(spark, sf_dir):
    """encode -> decode round trip of the full index (check_index)."""
    idx = _get_index(spark, sf_dir)
    return decoded_postings(idx)


def _get_variant_index(spark: SparkSession, sf_dir: str, variant_cfg: dict,
                       tag: str):
    return _cached_entry_index(
        spark, sf_dir, tag,
        lambda out, base: build_index(
            spark, pages_from_documents(_documents(spark, sf_dir)), out,
            IndexConfig(num_buckets=4, input_tag=base, **variant_cfg)))


def _entry_roundtrip_multi(spark, sf_dir):
    """check_index over the double-dictionary (multi-context) variant:
    per-block context dictionaries (ref include/dint/multi_dictionary.hpp,
    dint_codecs.hpp:285-458)."""
    idx = _get_variant_index(
        spark, sf_dir, {"dict_variant": "multi", "num_dicts": 2}, "multi2"
    )
    return decoded_postings(idx)


def _entry_roundtrip_pdf(spark, sf_dir):
    """check_index over the PDF (prefix-discounted frequencies) pattern
    selection — the paper's alternative to DSF."""
    idx = _get_variant_index(
        spark, sf_dir, {"pattern_selection": "pdf"}, "pdf"
    )
    return decoded_postings(idx)


def _entry_roundtrip_chunked(spark, sf_dir):
    """check_index over a build whose head terms are FORCED over the
    seg_chunk threshold (bounded per-term segment rows, round-2): every
    term splits into multiple disjoint doc-range rows, and the full decode
    must still reproduce the exact postings."""
    idx = _get_variant_index(
        spark, sf_dir, {"seg_chunk": 64, "skew_chunk": 32}, "chunked"
    )
    return decoded_postings(idx)


def _entry_bm25_chunked(spark, sf_dir):
    """BMW top-10 over the chunk-split index: multi-row cursor composition
    must rank identically to the SQL oracle."""
    idx = _get_variant_index(
        spark, sf_dir, {"seg_chunk": 64, "skew_chunk": 32}, "chunked"
    )
    raw = run_queries(spark, idx, QUERY_SPECS, algo="block_max_wand", k=100,
                      dtype="float64")
    return _rank_quantized(raw)


def _get_sharded_index(spark: SparkSession, sf_dir: str):
    from dint_spark.sharding import ShardedIndex, build_sharded_index

    return _cached_entry_index(
        spark, sf_dir, "sharded2",
        lambda out, base: build_sharded_index(
            spark, pages_from_documents(_documents(spark, sf_dir)), out,
            num_shards=2, config=IndexConfig(num_buckets=2, input_tag=base)),
        loader=ShardedIndex, marker="shards.json")


def _entry_bm25_sharded(spark, sf_dir):
    """BMW top-10 over the two-shard docid-sharded index (document-
    partitioned serving with global (N, df, avg_len) statistics)."""
    from dint_spark.sharding import run_queries_sharded

    sidx = _get_sharded_index(spark, sf_dir)
    raw = run_queries_sharded(spark, sidx, QUERY_SPECS,
                              algo="block_max_wand", k=100, dtype="float64")
    return _rank_quantized(raw)


# query-time synonym workload: expansions that hit (scan->stream,
# sort->order/merge), a synonym equal to another query's token, repeated
# tokens (weights sum: 2.0 + 2x0.5), and an all-OOV query (no rows)
SYNONYM_MAP: dict[str, list[str]] = {
    "scan": ["search", "stream"],
    "big": ["small"],
    "table": ["data"],
    "sort": ["order", "merge"],
}
SYN_QUERY_SPECS: list[str] = [
    "fast scan",
    "big table",
    "sort the data",
    "scan scan",
    "zzz missing words",
]
SYN_WEIGHT = 0.5  # binary fraction: weight sums exact in any add order


def _entry_search_synonyms(spark, sf_dir):
    """Query-time synonym expansion (Lucene SynonymQuery semantics): each
    token weighs 1.0, each synonym ``SYN_WEIGHT``; the expanded query
    ranks as a weighted BM25 disjunction through run_queries
    weighted=True (search.search_synonyms; no reference counterpart)."""
    from dint_spark.search import search_synonyms

    idx = _get_index(spark, sf_dir)
    raw = search_synonyms(spark, idx, SYN_QUERY_SPECS, SYNONYM_MAP,
                          syn_weight=SYN_WEIGHT, algo="block_max_wand",
                          k=100, dtype="float64")
    return _rank_quantized(raw)


RM3_FB_DOCS = 10
RM3_FB_TERMS = 10
RM3_A = 0.5


def _entry_search_rm3(spark, sf_dir):
    """RM3 pseudo-relevance feedback (Lavrenko & Croft; Anserini's RM3
    default reranker): BM25 top-10 feedback docs -> uniform-prior
    relevance model over their vocabulary (p quantized at 1e-12 so the
    expansion-term selection replays in SQL) -> top-10 expansion terms ->
    weighted BM25 re-query interpolating the original query at a=0.5
    (search.rm3_search; run_queries weighted=True). No reference
    counterpart — the reference has no feedback loop."""
    from dint_spark.search import rm3_search

    idx = _get_index(spark, sf_dir)
    docs = _documents(spark, sf_dir).select("doc_id", "text")
    raw = rm3_search(spark, idx, QUERY_SPECS, docs,
                     fb_docs=RM3_FB_DOCS, fb_terms=RM3_FB_TERMS,
                     orig_weight=RM3_A, k=100, algo="block_max_wand",
                     dtype="float64")
    return _rank_quantized(raw)


LM_MU = 2000.0


def _entry_lmdir_ranked(spark, sf_dir):
    """Query-likelihood top-10 with Dirichlet smoothing (mu=2000) — the
    second classical ranking family next to BM25, scored exhaustively
    into the dense accumulator (queries.run_queries_lm; no reference
    counterpart — the reference scores BM25 only, include/ds2i/bm25.hpp).
    Collection stats (cf_t, C) come from the index's own postings; the
    oracle recomputes them from the documents table."""
    from dint_spark.queries import run_queries_lm

    idx = _get_index(spark, sf_dir)
    raw = run_queries_lm(spark, idx, QUERY_SPECS, mu=LM_MU, k=100)
    return _rank_quantized(raw)


def _get_appended_index(spark: SparkSession, sf_dir: str):
    """Index built in two generations: the first 60% of docs (by the
    url = doc-id order of pages_from_documents) as the base epoch, the
    remaining 40% added later via sharding.append_docs — old epoch keeps
    its pre-append baked stats; queries re-derive global ones."""
    from dint_spark.sharding import (ShardedIndex, append_docs,
                                     build_sharded_index)

    def load(sp, out):
        sidx = ShardedIndex(sp, out)
        # a dir whose append never committed rebuilds
        return sidx if int(sidx.manifest["num_shards"]) == 2 else None

    def build(out, base):
        docs = _documents(spark, sf_dir)
        pivot = (docs.count() * 3) // 5
        sidx = build_sharded_index(
            spark, pages_from_documents(docs.where(F.col("doc_id") < pivot)),
            out, num_shards=1,
            config=IndexConfig(num_buckets=2, input_tag=base))
        return append_docs(spark, sidx, pages_from_documents(
            docs.where(F.col("doc_id") >= pivot)))

    return _cached_entry_index(spark, sf_dir, "appended", build,
                               loader=load, marker="shards.json")


def _entry_bm25_appended(spark, sf_dir):
    """Incremental indexing gate: a base epoch over 60% of the corpus plus
    an append_docs epoch over the rest must score EXACTLY like one index
    over everything — global (N, df) through the override channel, old-
    epoch norms re-derived under the post-append avg_len
    (sharding.append_docs; no reference counterpart — the reference index
    is immutable once frozen, src/create_freq_index.cpp:103-106). Queries
    go in as term STRINGS (the appended vocabulary ranks old-epoch terms
    first, so raw term ids don't transfer); the oracle is the very same
    full-corpus BM25 SQL the search_text entry uses."""
    from dint_spark.search import parse_queries
    from dint_spark.sharding import run_queries_sharded

    sidx = _get_appended_index(spark, sf_dir)
    specs, _ = parse_queries(sidx, TEXT_QUERY_SPECS)
    raw = run_queries_sharded(spark, sidx, specs, algo="block_max_wand",
                              k=100, dtype="float64")
    return _rank_quantized(raw)


def _rank_quantized(raw):
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id")
    )
    return (
        raw.withColumn("score_q", F.floor(F.col("score") * 1e9).cast("long"))
        .withColumn("qrank", F.row_number().over(w))
        .where(F.col("qrank") <= TOPK)
        .select(
            "query_id",
            F.col("qrank").cast("int").alias("rank"),
            "doc_id",
            "score_q",
        )
    )


_POSTINGS_SQL = (
    _PRELUDE
    + """
SELECT v.term_id, tf.doc_id, tf.tf AS freq
FROM tf JOIN vocab v ON tf.term = v.term
ORDER BY 1, 2
"""
)


# ---------------------------------------------------------------------------
# tombstoned deletes + compaction (index maintenance; no reference
# counterpart — the reference's index is immutable once frozen,
# src/create_freq_index.cpp:103-106)
# ---------------------------------------------------------------------------

# keyword-in-context snippet terms: head terms (many docs), mid and tail
KWIC_TERMS: list[int] = [0, 3, 7, 12, 19, 30]
KWIC_WIDTH = 3


def _entry_kwic_snippets(spark, sf_dir):
    """Keyword-in-context snippets (queries.run_kwic_queries): first
    occurrence per matching doc from the POSITIONAL index, ±3-token window
    sliced JVM-side from the source documents — search-result snippet
    generation; the text join touches only matched docs."""
    from dint_spark.queries import run_kwic_queries

    idx = _get_variant_index(spark, sf_dir, {"positions": True}, "pos")
    res = run_kwic_queries(spark, idx, _documents(spark, sf_dir),
                           KWIC_TERMS, width=KWIC_WIDTH)
    return res.orderBy("query_id", "doc_id")


def _kwic_values() -> str:
    rows = ",".join(f"({i},{t})" for i, t in enumerate(KWIC_TERMS))
    return f"(VALUES {rows}) AS t(query_id, term_id)"


_KWIC_SQL = f"""
WITH raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^0-9a-z]+') AS l
  FROM documents
),
tok0 AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS ord FROM raw
),
toks_ord AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM tok0 WHERE term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks_ord GROUP BY 1, 2),
vocab AS (
  SELECT term,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1 AS term_id
  FROM tf GROUP BY term
),
doc_toks AS (
  SELECT doc_id, list(term ORDER BY pos) AS toks FROM toks_ord GROUP BY 1
),
kq AS (SELECT * FROM {_kwic_values()}),
first_hit AS (
  SELECT kq.query_id, tp.doc_id, min(tp.pos)::BIGINT AS pos
  FROM kq JOIN vocab v ON v.term_id = kq.term_id
  JOIN toks_ord tp ON tp.term = v.term
  GROUP BY 1, 2
)
SELECT f.query_id, f.doc_id, f.pos,
       array_to_string(list_slice(
         d.toks, greatest(f.pos + 1 - {KWIC_WIDTH}, 1),
         f.pos + 1 + {KWIC_WIDTH}), ' ') AS snippet
FROM first_hit f JOIN doc_toks d ON d.doc_id = f.doc_id
ORDER BY 1, 2
"""


# multi-term highlight workload: distinct-term queries of mixed
# selectivity (head pairs, a mid trio, a tail pair)
HL_SPECS: list[list[int]] = [[0, 3], [1, 2, 5], [7, 30], [0, 1, 3]]
HL_K = 5
HL_WIDTH = 8


def _entry_search_highlight(spark, sf_dir):
    """Multi-term best-fragment highlighting (the Lucene unified
    highlighter contract, r3 VERDICT item 8): BM25 top-5 per query
    (quantized-integer rank), then per hit the 8-token window covering
    the most DISTINCT query terms (ties: occurrences, then start) from
    the POSITIONAL index, sliced JVM-side from the source documents
    (queries.run_highlight_queries)."""
    from dint_spark.queries import run_highlight_queries

    idx = _get_variant_index(spark, sf_dir, {"positions": True}, "pos")
    return (run_highlight_queries(
        spark, idx, _documents(spark, sf_dir), HL_SPECS, k=HL_K,
        width=HL_WIDTH).orderBy("query_id", "rank"))


def _highlight_sql() -> str:
    qvals = ", ".join(f"({qi}, {t}, 1)" for qi, ts in enumerate(HL_SPECS)
                      for t in ts)
    return f"""
WITH raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^0-9a-z]+') AS l
  FROM documents
),
tok0 AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS ord FROM raw
),
toks_ord AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM tok0 WHERE term <> ''
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks_ord
       GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::BIGINT AS len FROM toks_ord GROUP BY 1),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         avg(len) AS avg_len FROM dl
),
vocab AS (
  SELECT term, count(*)::BIGINT AS df,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1 AS term_id
  FROM tf GROUP BY term
),
qs(query_id, term_id, qf) AS (VALUES {qvals}),
scored AS (
  SELECT qs.query_id, tf.doc_id,
         sum(
           qs.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5)))
           * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM qs
  JOIN vocab v ON v.term_id = qs.term_id
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, rank, doc_id, score_q FROM (
    SELECT query_id, doc_id, floor(score * 1e9)::BIGINT AS score_q,
           row_number() OVER (PARTITION BY query_id
             ORDER BY floor(score * 1e9) DESC, doc_id ASC)::INT AS rank
    FROM scored
  ) WHERE rank <= {HL_K}
),
occ AS (
  SELECT c.query_id, c.doc_id, t.pos, v.term_id
  FROM cand c
  JOIN qs q ON q.query_id = c.query_id
  JOIN vocab v ON v.term_id = q.term_id
  JOIN toks_ord t ON t.doc_id = c.doc_id AND t.term = v.term
),
win AS (
  SELECT o1.query_id, o1.doc_id, o1.pos AS start,
         count(DISTINCT o2.term_id) AS n_terms, count(*) AS n_hits
  FROM occ o1
  JOIN occ o2 ON o2.query_id = o1.query_id AND o2.doc_id = o1.doc_id
             AND o2.pos >= o1.pos AND o2.pos < o1.pos + {HL_WIDTH}
  GROUP BY 1, 2, 3
),
best AS (
  SELECT query_id, doc_id, start, n_terms, n_hits FROM (
    SELECT query_id, doc_id, start, n_terms, n_hits,
           row_number() OVER (PARTITION BY query_id, doc_id
             ORDER BY n_terms DESC, n_hits DESC, start ASC) AS bn
    FROM win
  ) WHERE bn = 1
)
SELECT c.query_id, c.rank, c.doc_id, c.score_q, b.start,
       b.n_terms::INT AS n_terms, b.n_hits::INT AS n_hits,
       (SELECT string_agg(t.term, ' ' ORDER BY t.pos) FROM toks_ord t
        WHERE t.doc_id = b.doc_id AND t.pos >= b.start
          AND t.pos < b.start + {HL_WIDTH}) AS snippet
FROM cand c JOIN best b ON b.query_id = c.query_id AND b.doc_id = c.doc_id
ORDER BY 1, 2
"""


def _get_deleted_index(spark, sf_dir):
    """Base-config index with doc_id % 7 == 3 tombstoned. delete_docs is
    idempotent, so re-entering on the cached index appends nothing."""
    from dint_spark.index import delete_docs

    idx = _get_variant_index(spark, sf_dir, {}, "del")
    delete_docs(spark, idx,
                [d for d in range(idx.num_docs) if d % 7 == 3])
    return idx


def _entry_bm25_with_deletes(spark, sf_dir):
    """BMW-vec top-10 over a TOMBSTONED index (index.delete_docs /
    queries.Tombstones): deleted docs are excluded from results while BM25
    statistics (N, df, avg_len) keep pre-delete values — liveDocs
    semantics; the oracle keeps full-corpus stats CTEs and filters
    candidates only."""
    idx = _get_deleted_index(spark, sf_dir)
    raw = run_queries(spark, idx, QUERY_SPECS, algo="block_max_wand_vec",
                      k=100, dtype="float64")
    return _rank_quantized(raw)


def _entry_bm25_merged(spark, sf_dir):
    """BMW-vec top-10 over the MERGE of two half-corpus indexes
    (merge.merge_indexes, SURVEY B19): unified vocab re-ranked by combined
    (df desc, term asc), half B's doc ids offset by A's num_docs, sorted-
    array postings merge, then the standard pipeline resumes from the
    merged corpus checkpoint. The halves split on the url-ordered doc id,
    so merged == one-shot build (tests/test_merge.py pins decoded-postings
    equality) and the oracle is the standard full-corpus top-k SQL."""
    from dint_spark.merge import merge_indexes

    def build(out, base):
        docs = _documents(spark, sf_dir)
        cut = docs.count() // 2
        cfg = lambda t: IndexConfig(  # noqa: E731
            num_buckets=4, input_tag=f"{base}-{t}")
        build_index(spark, pages_from_documents(
            docs.where(F.col("doc_id") < cut)), f"{out}-a", cfg("a"))
        build_index(spark, pages_from_documents(
            docs.where(F.col("doc_id") >= cut)), f"{out}-b", cfg("b"))
        return merge_indexes(spark, f"{out}-a", f"{out}-b", out, cfg("m"))

    idx = _cached_entry_index(spark, sf_dir, "merged", build)
    raw = run_queries(spark, idx, QUERY_SPECS, algo="block_max_wand_vec",
                      k=100, dtype="float64")
    return _rank_quantized(raw)


FILTER_LEN_T = 60  # metadata predicate for the filtered-search entry


def _entry_bm25_filtered(spark, sf_dir):
    """BMW-vec top-10 under a metadata doc filter (doclen >= FILTER_LEN_T):
    queries.build_doc_filter packs the allowlist into a DocMask bitmap
    (1 bit/doc, selectivity-independent) and every kernel applies it with
    corpus-wide BM25 statistics — the Lucene filter/liveDocs pattern. The
    oracle keeps full-corpus stats CTEs and restricts candidates only."""
    from dint_spark.queries import build_doc_filter

    idx = _get_index(spark, sf_dir)
    dl = spark.read.parquet(os.path.join(idx.dir, "doclens.parquet"))
    dm = build_doc_filter(spark, dl.filter(F.col("len") >= FILTER_LEN_T),
                          idx.num_docs)
    raw = run_queries(spark, idx, QUERY_SPECS, algo="block_max_wand_vec",
                      k=100, dtype="float64", doc_filter=dm)
    return _rank_quantized(raw)


def _entry_bm25_filtered_sharded(spark, sf_dir):
    """The same metadata filter routed across docid shards
    (sharding.build_doc_filters_sharded): the GLOBAL allowlist packs into
    per-shard DocMasks in one Spark job — filter state stays document-
    partitioned like the index itself, no global bitmap materializes —
    and the sharded fan-out must equal the unsharded filtered run, so the
    oracle is identical to bm25_filtered."""
    from dint_spark.sharding import (build_doc_filters_sharded,
                                     run_queries_sharded)

    idx = _get_index(spark, sf_dir)
    sidx = _get_sharded_index(spark, sf_dir)
    dl = spark.read.parquet(os.path.join(idx.dir, "doclens.parquet"))
    dms = build_doc_filters_sharded(
        spark, sidx, dl.filter(F.col("len") >= FILTER_LEN_T))
    raw = run_queries_sharded(spark, sidx, QUERY_SPECS,
                              algo="block_max_wand_vec", k=100,
                              dtype="float64", doc_filters=dms)
    return _rank_quantized(raw)


def _entry_bm25_after_compact(spark, sf_dir):
    """BMW-vec top-10 over the COMPACTED rewrite of the tombstoned index
    (compact.compact_index == fresh build over the surviving corpus:
    re-ranked doc ids, re-ranked vocabulary, refreshed N/df/avg_len) — the
    oracle recomputes every CTE over the filtered documents."""
    from dint_spark.compact import compact_index

    idx = _cached_entry_index(
        spark, sf_dir, "compacted",
        lambda out, _: compact_index(spark, _get_deleted_index(spark, sf_dir),
                                     out))
    raw = run_queries(spark, idx, QUERY_SPECS, algo="block_max_wand_vec",
                      k=100, dtype="float64")
    return _rank_quantized(raw)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable] = {
        "term_stats": _entry_term_stats,
        "term_vectors": _entry_term_vectors,
        "doclens": _entry_doclens,
        "vocab_term_ids": _entry_vocab,
        "postings_build": _entry_postings_flat,
        "dint_roundtrip": _entry_roundtrip,
        "dint_roundtrip_multi": _entry_roundtrip_multi,
        "dint_roundtrip_pdf": _entry_roundtrip_pdf,
        "dint_roundtrip_chunked": _entry_roundtrip_chunked,
        "bm25_bmw_chunked": _entry_bm25_chunked,
        "bm25_bmw_sharded": _entry_bm25_sharded,
        "bm25_ranked_or": lambda s, d: _ranked(s, d, "ranked_or"),
        "bm25_wand": lambda s, d: _ranked(s, d, "wand"),
        "bm25_block_max_wand": lambda s, d: _ranked(s, d, "block_max_wand"),
        "bm25_block_max_wand_vec": lambda s, d: _ranked(s, d, "block_max_wand_vec"),
        "bm25_maxscore": lambda s, d: _ranked(s, d, "maxscore"),
        "bm25_ranked_and": lambda s, d: _ranked_and(s, d),
        "boolean_and": _entry_boolean_and,
        "boolean_or": _entry_boolean_or,
        "boolean_and_not": _entry_boolean_and_not,
        "search_facets": _entry_search_facets,
        "search_multi_terms": _entry_search_multi_terms,
        "search_facets_range": _entry_search_facets_range,
        "search_stats": _entry_search_stats,
        "search_extended_stats": _entry_search_extended_stats,
        "search_percentiles": _entry_search_percentiles,
        "search_boosted": _entry_search_boosted,
        "search_decay": _entry_search_decay,
        "search_cardinality": _entry_search_cardinality,
        "search_terms_set": _entry_search_terms_set,
        "search_boosting": _entry_search_boosting,
        "search_pinned": _entry_search_pinned,
        "search_rank_feature": _entry_search_rank_feature,
        "search_geo_bbox": _entry_search_geo_bbox,
        "search_geo_distance": _entry_search_geo_distance,
        "search_geo_radius": _entry_search_geo_radius,
        "search_geo_rings": _entry_search_geo_rings,
        "search_nested_sum": lambda s, d: _entry_search_nested(s, d, "sum", 1),
        "search_nested_max": lambda s, d: _entry_search_nested(
            s, d, "max", NESTED_MINC),
        "search_has_parent": _entry_search_has_parent,
        "percolate_docs": _entry_percolate,
        "search_explain": _entry_search_explain,
        "search_analyzed": _entry_search_analyzed,
        "search_reindexed": _entry_search_reindexed,
        "search_sort_by_field": _entry_search_sort_by_field,
        "search_sort_by_keyword": _entry_search_sort_by_keyword,
        "search_collapse": _entry_search_collapse,
        "search_inner_hits": _entry_search_inner_hits,
        "search_page2": _entry_search_page2,
        "search_bool_dsl": _entry_search_bool_dsl,
        "search_query_string": _entry_search_query_string,
        "search_multi_match": _entry_search_multi_match,
        "search_rerank": _entry_search_rerank,
        "search_hybrid_rrf": _entry_search_hybrid,
        "suggest_spelling": _entry_suggest_spelling,
        "suggest_spelling2": _entry_suggest_spelling2,
        "significant_terms": _entry_significant_terms,
        "search_more_like_this": _entry_more_like_this,
        "bm25_appended": _entry_bm25_appended,
        "lmdir_ranked": _entry_lmdir_ranked,
        "search_rm3": _entry_search_rm3,
        "search_synonyms": _entry_search_synonyms,
        "wand_max_weights": _entry_wand_max_weights,
        "phrase_match": _entry_phrase_match,
        "phrase_prefix": _entry_phrase_prefix,
        "phrase_ranked": _entry_phrase_ranked,
        "search_text": _entry_search_text,
        "search_prefix": _entry_search_prefix,
        "search_fuzzy": _entry_search_fuzzy,
        "search_regexp": _entry_search_regexp,
        "search_regexp_trigram": _entry_search_regexp_trigram,
        "suggest_complete": _entry_suggest_complete,
        "suggest_phrase": _entry_suggest_phrase,
        "proximity_within": _entry_proximity_within,
        "bm25_with_deletes": _entry_bm25_with_deletes,
        "bm25_filtered": _entry_bm25_filtered,
        "bm25_filtered_sharded": _entry_bm25_filtered_sharded,
        "bm25_merged": _entry_bm25_merged,
        "bm25_after_compact": _entry_bm25_after_compact,
        "kwic_snippets": _entry_kwic_snippets,
        "search_highlight": _entry_search_highlight,
        "search_span_near": _entry_search_span_near,
        "search_span_unordered": _entry_search_span_unordered,
        "search_rank_eval": _entry_search_rank_eval,
    }
    from dint_spark.ops import entries as ops_entries

    q.update(ops_entries.spark_queries())
    return q


# fixed phrase workload over the 31-term documents vocabulary: bigrams and
# trigrams of frequent terms (real hits), a repeated-term phrase (overlap
# counting), a rare-tail bigram, a single-term phrase, and a 4-gram
PHRASE_SPECS: list[list[int]] = [
    [0, 1],
    [1, 0],
    [2, 3, 4],
    [0, 0],
    [5, 2],
    [7, 11],
    [1, 2, 3],
    [10, 0],
    [0, 1, 2],
    [30, 29],
    [6],
    [3, 8, 1, 0],
]


def _entry_phrase_match(spark, sf_dir):
    """Exact-phrase retrieval over a POSITIONAL index (third DINT-coded
    per-doc-gapped position stream + sorted-key intersection kernel,
    queries.run_phrase_queries). Output counts overlapping occurrences
    exactly; integer-only columns so the hash compare is exact. No
    reference counterpart (the reference's data model is docs+freqs only,
    include/ds2i/binary_freq_collection.hpp) — fulltext-tier extension."""
    from dint_spark.queries import run_phrase_queries

    idx = _get_variant_index(spark, sf_dir, {"positions": True}, "pos")
    res = run_phrase_queries(spark, idx, PHRASE_SPECS)
    return res.select(
        F.col("query_id").alias("phrase_id"), "doc_id", "phrase_tf"
    ).orderBy("phrase_id", "doc_id")


MPP_SPECS = [("customer", "or"), ("key", "ag"), ("fast", "s"),
             ("value", "ta"), ("merge", "ba")]


def _entry_phrase_prefix(spark, sf_dir):
    """ES match_phrase_prefix (the autocomplete phrase): fixed first
    term + a prefix in the last position, expanded through the pushed
    StartsWith vocab scan and run as ONE positional phrase batch with
    per-(query, doc) occurrence sums (search.match_phrase_prefix).
    "fast s*" expands to 6 vocabulary terms — the multi-expansion
    union path.

    The Spark side caps expansion at max_terms=64 (the Lucene rewrite
    bound); the oracle's LIKE prefix||'%' is uncapped, so this entry
    ASSERTS every expansion stays under the cap — a vocabulary change
    that would make entry and oracle diverge fails loudly here instead
    of silently hash-mismatching (ADVICE r3)."""
    from dint_spark.search import expand_prefix, match_phrase_prefix

    idx = _get_variant_index(spark, sf_dir, {"positions": True}, "pos")
    for _, pfx in MPP_SPECS:
        n_exp = len(expand_prefix(idx, pfx, max_terms=65))
        assert n_exp <= 64, (
            f"prefix {pfx!r} expands to >64 vocab terms — the uncapped "
            "DuckDB oracle would diverge from the capped entry; "
            "re-pick MPP_SPECS for this vocabulary")
    tid = idx.term_ids([w for w, _ in MPP_SPECS])
    specs = [[tid[w], pfx] for w, pfx in MPP_SPECS]
    return (match_phrase_prefix(spark, idx, specs)
            .orderBy("query_id", "doc_id"))


def _phrase_prefix_sql() -> str:
    fixed = ", ".join(f"({qid}, 0, '{w}')"
                      for qid, (w, _) in enumerate(MPP_SPECS))
    pref = ", ".join(f"({qid}, 1, '{p}')"
                     for qid, (_, p) in enumerate(MPP_SPECS))
    plen = ", ".join(f"({qid}, 2)" for qid in range(len(MPP_SPECS)))
    return f"""
WITH raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^0-9a-z]+') AS l
  FROM documents
),
tok0 AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS ord FROM raw
),
toks_ord AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM tok0 WHERE term <> ''
),
fixedt(query_id, off, term) AS (VALUES {fixed}),
pref(query_id, off, prefix) AS (VALUES {pref}),
plen(query_id, len) AS (VALUES {plen}),
hits AS (
  SELECT f.query_id, tp.doc_id, tp.pos - f.off AS start
  FROM fixedt f JOIN toks_ord tp ON tp.term = f.term
  UNION ALL
  SELECT p.query_id, tp.doc_id, tp.pos - p.off AS start
  FROM pref p JOIN toks_ord tp ON tp.term LIKE p.prefix || '%'
),
occ AS (
  SELECT h.query_id, h.doc_id, h.start
  FROM hits h JOIN plen l ON l.query_id = h.query_id
  GROUP BY h.query_id, h.doc_id, h.start, l.len
  HAVING count(*) = l.len
)
SELECT query_id, doc_id, count(*)::BIGINT AS ptf
FROM occ GROUP BY 1, 2 ORDER BY 1, 2
"""


# ordered proximity pairs (t2 within PROX_WINDOW tokens after t1): frequent
# pairs, both orders, a self-pair, and a rare-tail pair
PROX_SPECS: list[list[int]] = [
    [0, 1], [1, 0], [2, 5], [0, 0], [3, 4], [10, 2], [30, 29], [6, 6],
]
PROX_WINDOW = 8


def _entry_proximity_within(spark, sf_dir):
    """Ordered within-window proximity over the positional index
    (queries.run_proximity_queries): docs where the second term occurs
    within PROX_WINDOW tokens AFTER the first, with the exact ordered-pair
    count."""
    from dint_spark.queries import run_proximity_queries

    idx = _get_variant_index(spark, sf_dir, {"positions": True}, "pos")
    res = run_proximity_queries(spark, idx, PROX_SPECS, window=PROX_WINDOW)
    return res.select(
        F.col("query_id").alias("pair_id"), "doc_id",
        F.col("phrase_tf").alias("pair_count")
    ).orderBy("pair_id", "doc_id")


def _phrase_values() -> str:
    rows = ",".join(
        f"({pid},{off},{tid})"
        for pid, ph in enumerate(PHRASE_SPECS)
        for off, tid in enumerate(ph)
    )
    return f"(VALUES {rows}) AS t(phrase_id, off, term_id)"


# phrase oracle: token positions via generate_subscripts + empty-token
# refiltering (positions are ordinals over NON-empty tokens, matching the
# engine tokenizer), then each (phrase, doc, start) group must match every
# phrase offset — counts overlapping occurrences exactly like the kernel
_PHRASE_SQL = f"""
WITH raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^0-9a-z]+') AS l
  FROM documents
),
tok0 AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS ord FROM raw
),
toks_ord AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM tok0 WHERE term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks_ord GROUP BY 1, 2),
vocab AS (
  SELECT term,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1 AS term_id
  FROM tf GROUP BY term
),
pterms AS (SELECT * FROM {_phrase_values()}),
plen AS (SELECT phrase_id, count(*) AS len FROM pterms GROUP BY 1),
hits AS (
  SELECT pt.phrase_id, tp.doc_id, tp.pos - pt.off AS start
  FROM pterms pt
  JOIN vocab v ON v.term_id = pt.term_id
  JOIN toks_ord tp ON tp.term = v.term
),
occ AS (
  SELECT h.phrase_id, h.doc_id, h.start
  FROM hits h JOIN plen l ON l.phrase_id = h.phrase_id
  GROUP BY h.phrase_id, h.doc_id, h.start, l.len
  HAVING count(*) = l.len
)
SELECT phrase_id, doc_id, count(*)::BIGINT AS phrase_tf
FROM occ GROUP BY 1, 2 ORDER BY 1, 2
"""


# span_near workload: ordered pairs both ways, trigrams, a rare tail pair
SPAN_SPECS: list[list[int]] = [[0, 1], [1, 0], [2, 5, 9], [0, 3, 7],
                               [30, 29]]
SPAN_SLOP = 3


def _entry_search_span_near(spark, sf_dir):
    """ES span_near (in_order: true, slop) over single-term clauses:
    docs where all terms appear in order with total intervening slack
    <= 3, with the greedy-minimal span count per doc — between exact
    phrase and bag-of-words (queries.run_span_near_queries)."""
    from dint_spark.queries import run_span_near_queries

    idx = _get_variant_index(spark, sf_dir, {"positions": True}, "pos")
    return (run_span_near_queries(spark, idx, SPAN_SPECS, slop=SPAN_SLOP)
            .orderBy("query_id", "doc_id"))


def _span_near_sql() -> str:
    """Oracle: per query, chain each occurrence of term 1 to the
    EARLIEST occurrence of each next term strictly after the previous
    (min-aggregate per chain prefix — the greedy-minimal completion),
    then keep chains with end - start - (k-1) <= slop and count per
    doc. Token ordinals from the positional prelude."""
    parts = []
    for qid, terms in enumerate(SPAN_SPECS):
        k = len(terms)
        prev = (f"(SELECT doc_id, pos AS p1 FROM occ "
                f"WHERE term_id = {terms[0]})")
        for i, t in enumerate(terms[1:], start=2):
            cols = ", ".join(f"c.p{j}" for j in range(1, i))
            prev = (f"(SELECT c.doc_id, {cols}, min(o.pos) AS p{i} "
                    f"FROM {prev} c JOIN occ o ON o.doc_id = c.doc_id "
                    f"AND o.term_id = {t} AND o.pos > c.p{i - 1} "
                    f"GROUP BY c.doc_id, {cols})")
        parts.append(
            f"SELECT {qid} AS query_id, doc_id, count(*)::BIGINT AS "
            f"n_spans FROM {prev} "
            f"WHERE p{k} - p1 - {k - 1} <= {SPAN_SLOP} GROUP BY 2")
    return f"""
WITH raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^0-9a-z]+') AS l
  FROM documents
),
tok0 AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS ord FROM raw
),
toks_ord AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM tok0 WHERE term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks_ord GROUP BY 1, 2),
vocab AS (
  SELECT term,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1 AS term_id
  FROM tf GROUP BY term
),
occ AS (
  SELECT t.doc_id, t.pos, v.term_id
  FROM toks_ord t JOIN vocab v ON v.term = t.term
  WHERE v.term_id IN ({", ".join(str(t) for ts in SPAN_SPECS
                                 for t in ts)})
)
{" UNION ALL ".join(parts)}
ORDER BY 1, 2
"""


def _entry_search_span_unordered(spark, sf_dir):
    """ES span_near with in_order: false — per query-term occurrence,
    the minimal enclosing window of ALL (distinct) terms in any order;
    a start matches when that window's slack <= 3
    (queries.run_span_near_queries in_order=False)."""
    from dint_spark.queries import run_span_near_queries

    idx = _get_variant_index(spark, sf_dir, {"positions": True}, "pos")
    return (run_span_near_queries(spark, idx, SPAN_SPECS, slop=SPAN_SLOP,
                                  in_order=False)
            .orderBy("query_id", "doc_id"))


def _span_unordered_sql() -> str:
    """Oracle: per start (any query-term occurrence), each term's first
    occurrence at-or-after the start via a correlated min; keep starts
    where every term exists downstream and max(ends) - start - (k-1)
    <= slop; count per doc."""
    parts = []
    for qid, terms in enumerate(SPAN_SPECS):
        ts = sorted(set(terms))
        k = len(ts)
        e_cols = ", ".join(
            f"(SELECT min(o.pos) FROM occ o WHERE o.doc_id = st.doc_id "
            f"AND o.term_id = {t} AND o.pos >= st.pos) AS e{i}"
            for i, t in enumerate(ts))
        not_null = " AND ".join(f"e{i} IS NOT NULL" for i in range(k))
        gmax = (f"greatest({', '.join(f'e{i}' for i in range(k))})"
                if k > 1 else "e0")
        in_list = ", ".join(str(t) for t in ts)
        parts.append(f"""
SELECT {qid}::BIGINT AS query_id, doc_id, count(*)::BIGINT AS n_spans
FROM (
  SELECT st.doc_id, st.pos AS p0, {e_cols}
  FROM (SELECT DISTINCT doc_id, pos FROM occ
        WHERE term_id IN ({in_list})) st
) WHERE {not_null} AND {gmax} - p0 - {k - 1} <= {SPAN_SLOP}
GROUP BY 2""")
    return f"""
WITH raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^0-9a-z]+') AS l
  FROM documents
),
tok0 AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS ord FROM raw
),
toks_ord AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM tok0 WHERE term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks_ord GROUP BY 1, 2),
vocab AS (
  SELECT term,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1 AS term_id
  FROM tf GROUP BY term
),
occ AS (
  SELECT t.doc_id, t.pos, v.term_id
  FROM toks_ord t JOIN vocab v ON v.term = t.term
  WHERE v.term_id IN ({", ".join(str(t) for ts in SPAN_SPECS
                                 for t in ts)})
)
{" UNION ALL ".join(parts)}
ORDER BY 1, 2
"""


# free-text query workload: punctuation/case to exercise the pinned query
# tokenizer, duplicate terms (qf=2), a tail term, partial- and fully-OOV
# queries (OOV terms drop per query; a fully-OOV query returns no rows)
TEXT_QUERY_SPECS: list[str] = [
    "hash join",
    "Sort-Merge JOIN!",
    "fast vector scan",
    "the the big table",
    "dup",
    "quantum flux spark",
    "zzz unknown words only",
    "group by key order",
]


def _entry_search_text(spark, sf_dir):
    """Free-text search front end (search.search_text): raw query strings
    tokenized under the index's pinned contract, term ids resolved via a
    pushed-filter vocab scan (never a full-vocab collect), OOV terms
    dropped, BMW-vec top-10. The oracle tokenizes the same literal
    strings in SQL and joins the vocab CTE by term."""
    from dint_spark.search import search_text

    idx = _get_index(spark, sf_dir)
    raw = search_text(spark, idx, TEXT_QUERY_SPECS,
                      algo="block_max_wand_vec", k=100, dtype="float64")
    return _rank_quantized(raw)


def _text_scored() -> str:
    vals = ", ".join(f"({i}, '{s}')" for i, s in enumerate(TEXT_QUERY_SPECS))
    return f"""
, qraw AS (SELECT * FROM (VALUES {vals}) AS t(query_id, qtext)),
qtok AS (
  SELECT query_id,
         unnest(string_split_regex(lower(qtext), '[^0-9a-z]+')) AS term
  FROM qraw
),
qs AS (
  SELECT q.query_id, v.term_id, count(*)::BIGINT AS qf
  FROM qtok q JOIN vocab v ON v.term = q.term
  WHERE q.term <> ''
  GROUP BY 1, 2
),
scored AS (
  SELECT qs.query_id, tf.doc_id,
         count(*)::BIGINT AS matched,
         sum(
           qs.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM qs
  JOIN vocab v ON v.term_id = qs.term_id
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
"""


# wildcard workload over the 31-term documents vocabulary: a dense prefix
# ("s" -> scan/slow/small/sort/spark/stream), a 2-term one, a single-term
# one, and a no-match prefix (no rows for that query_id)
PREFIX_QUERY_SPECS: list[str] = ["s", "b", "qu", "zz"]
# fuzzy workload: a typo within distance 1 of TWO terms (sart -> sort,
# part), a deletion typo (dat -> data), an exact in-vocab word, a miss
FUZZY_QUERY_SPECS: list[str] = ["sart", "dat", "data", "zzzq"]
MAX_EXPAND = 64  # the Lucene-style rewrite cap, identical in both engines

# the BM25 scoring CTE over an already-materialized qs(query_id, term_id,
# qf) relation — shared by the text/prefix/fuzzy front-end oracles
_SCORED_FROM_QS = """
scored AS (
  SELECT qs.query_id, tf.doc_id,
         count(*)::BIGINT AS matched,
         sum(
           qs.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM qs
  JOIN vocab v ON v.term_id = qs.term_id
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
"""


def _entry_search_prefix(spark, sf_dir):
    """Wildcard search (search.search_prefix): each ``prefix*`` expands to
    the top-MAX_EXPAND matching vocabulary terms by (df DESC, term ASC) —
    the rewrite cap that bounds a short prefix over a 10^8-term web
    vocabulary — then ranks by BM25 over the disjunction (per-term idf,
    qf=1). The oracle expands the same prefixes with LIKE under the same
    deterministic cap."""
    from dint_spark.search import search_prefix

    idx = _get_index(spark, sf_dir)
    raw = search_prefix(spark, idx, PREFIX_QUERY_SPECS, k=100,
                        dtype="float64", max_terms=MAX_EXPAND)
    return _rank_quantized(raw)


def _prefix_scored() -> str:
    vals = ", ".join(f"({i}, '{p}')"
                     for i, p in enumerate(PREFIX_QUERY_SPECS))
    return f"""
, qraw AS (SELECT * FROM (VALUES {vals}) AS t(query_id, qtext)),
expand AS (
  SELECT q.query_id, v.term_id,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY v.df DESC, v.term ASC) AS rn
  FROM qraw q JOIN vocab v ON v.term LIKE q.qtext || '%'
),
qs AS (SELECT query_id, term_id, 1::BIGINT AS qf FROM expand
       WHERE rn <= {MAX_EXPAND}),
""" + _SCORED_FROM_QS


REGEX_QUERY_SPECS = ["jo.n|hash", "sc.n", "[bc]atch", "merge.?",
                     "filt.r", "zz+q"]


def _entry_search_regexp(spark, sf_dir):
    """Regexp search (search.search_regexp — the ES regexp query): each
    anchored pattern expands to the top-MAX_EXPAND matching vocabulary
    terms by (df DESC, term ASC), then ranks by BM25 over the
    disjunction like the wildcard path. A pattern matching nothing
    (zz+q) returns no rows. The oracle expands with DuckDB's
    regexp_full_match under the same cap."""
    from dint_spark.search import search_regexp

    idx = _get_index(spark, sf_dir)
    raw = search_regexp(spark, idx, REGEX_QUERY_SPECS, k=100,
                        dtype="float64", max_terms=MAX_EXPAND)
    return _rank_quantized(raw)


# prefix-free shapes the trigram side index exists for (.*tion has no
# pushable prefix), plus a class+run pattern, a fallback (top-level |),
# and a no-match — the pruned path must equal the full-scan path exactly
REGEX_TRI_SPECS = [".*tch", "[fh]il*ter", "jo.n|hash", "sc.n", "zzz+q"]


def _entry_search_regexp_trigram(spark, sf_dir):
    """Regexp search through the trigram->term side index
    (search.search_regexp_trigram, the public Code-Search technique):
    REQUIRED trigrams extracted from each pattern prune the vocabulary
    via a pushed IN scan + count-match aggregate BEFORE the full
    pattern runs — the cost class the StartsWith pushdown cannot reach
    (prefix-free patterns). Identical results to search_regexp by
    construction; the oracle is the same full-vocabulary expansion."""
    from dint_spark.search import search_regexp_trigram

    idx = _get_index(spark, sf_dir)
    raw = search_regexp_trigram(spark, idx, REGEX_TRI_SPECS, k=100,
                                dtype="float64", max_terms=MAX_EXPAND)
    return _rank_quantized(raw)


def _regex_scored(specs=None) -> str:
    vals = ", ".join(f"({i}, '{p}')"
                     for i, p in enumerate(specs or REGEX_QUERY_SPECS))
    return f"""
, qraw AS (SELECT * FROM (VALUES {vals}) AS t(query_id, qtext)),
expand AS (
  SELECT q.query_id, v.term_id,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY v.df DESC, v.term ASC) AS rn
  FROM qraw q JOIN vocab v ON regexp_full_match(v.term, q.qtext)
),
qs AS (SELECT query_id, term_id, 1::BIGINT AS qf FROM expand
       WHERE rn <= {MAX_EXPAND}),
""" + _SCORED_FROM_QS


COMPLETE_PREFIXES = ["jo", "sc", "s", "me", "zz"]


def _entry_suggest_complete(spark, sf_dir):
    """Completion suggester (ES completion): top-10 vocabulary
    completions per typed prefix by (df desc, term asc) — pushed
    StartsWith vocab scans, TakeOrdered caps, |prefixes| x 10 rows
    (search.suggest_complete)."""
    from dint_spark.search import suggest_complete

    idx = _get_index(spark, sf_dir)
    return suggest_complete(spark, idx, COMPLETE_PREFIXES, n=TOPK)


def _complete_sql() -> str:
    vals = ", ".join(f"({i}, '{p}')"
                     for i, p in enumerate(COMPLETE_PREFIXES))
    return (
        _PRELUDE
        + f"""
, pq(query_id, p) AS (VALUES {vals})
SELECT query_id, rank, term, df FROM (
  SELECT pq.query_id, v.term, v.df,
         row_number() OVER (
           PARTITION BY pq.query_id
           ORDER BY v.df DESC, v.term ASC
         )::INT AS rank
  FROM pq JOIN vocab v ON v.term LIKE pq.p || '%'
) WHERE rank <= {TOPK}
ORDER BY 1, 2
"""
    )


def _entry_search_fuzzy(spark, sf_dir):
    """Fuzzy search (search.search_fuzzy): each word matches vocabulary
    terms at levenshtein distance <= 1 via the SymSpell delete-1
    neighborhood table (build_fuzzy_table: probe ~len(word)+1 keys with a
    pushed IN filter, verify exactly — never a vocab-wide levenshtein
    scan), then ranks like the prefix path. The oracle joins the vocab
    CTE on DuckDB's levenshtein under the same cap."""
    from dint_spark.search import build_fuzzy_table, search_fuzzy

    idx = _get_index(spark, sf_dir)
    build_fuzzy_table(spark, idx)  # idempotent; exercises the scale path
    raw = search_fuzzy(spark, idx, FUZZY_QUERY_SPECS, k=100,
                       dtype="float64", max_terms=MAX_EXPAND)
    return _rank_quantized(raw)


def _fuzzy_scored() -> str:
    vals = ", ".join(f"({i}, '{w}')"
                     for i, w in enumerate(FUZZY_QUERY_SPECS))
    return f"""
, qraw AS (SELECT * FROM (VALUES {vals}) AS t(query_id, qtext)),
expand AS (
  SELECT q.query_id, v.term_id,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY v.df DESC, v.term ASC) AS rn
  FROM qraw q JOIN vocab v ON levenshtein(q.qtext, v.term) <= 1
),
qs AS (SELECT query_id, term_id, 1::BIGINT AS qf FROM expand
       WHERE rn <= {MAX_EXPAND}),
""" + _SCORED_FROM_QS


def _entry_phrase_ranked(spark, sf_dir):
    """BM25-ranked phrase search (queries.run_phrase_queries_ranked):
    match on the exact consecutive phrase, rank matches by the BM25 score
    of the phrase's terms (qf = multiplicity in the phrase, full-corpus
    statistics) — the match-on-phrase / rank-on-terms model of search
    result pages. Scores equal run_queries over the same terms, so the
    oracle composes the phrase-match CTEs with the standard scored CTE."""
    from dint_spark.queries import run_phrase_queries_ranked

    idx = _get_variant_index(spark, sf_dir, {"positions": True}, "pos")
    raw = run_phrase_queries_ranked(spark, idx, PHRASE_SPECS, k=100,
                                    dtype="float64")
    return _rank_quantized(raw)


# ranked-phrase oracle: the phrase-match CTEs (toks_ord/occ) supply the
# matched (phrase, doc) pairs; BM25 CTEs (tf/dl/stats/vocab-with-df) score
# them with full-corpus statistics, qf = the term's multiplicity in the
# phrase; top-10 by quantized score, ties doc asc
_PHRASE_RANKED_SQL = f"""
WITH raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^0-9a-z]+') AS l
  FROM documents
),
tok0 AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS ord FROM raw
),
toks_ord AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM tok0 WHERE term <> ''
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks_ord
       GROUP BY 1, 2),
vocab AS (
  SELECT term, count(*)::BIGINT AS df,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1 AS term_id
  FROM tf GROUP BY term
),
dl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS len
  FROM documents d LEFT JOIN toks_ord t ON d.doc_id = t.doc_id
  GROUP BY 1
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         avg(len) AS avg_len
  FROM dl
),
pterms AS (SELECT * FROM {_phrase_values()}),
plen AS (SELECT phrase_id, count(*) AS len FROM pterms GROUP BY 1),
hits AS (
  SELECT pt.phrase_id, tp.doc_id, tp.pos - pt.off AS start
  FROM pterms pt
  JOIN vocab v ON v.term_id = pt.term_id
  JOIN toks_ord tp ON tp.term = v.term
),
occ AS (
  SELECT h.phrase_id, h.doc_id, h.start
  FROM hits h JOIN plen l ON l.phrase_id = h.phrase_id
  GROUP BY h.phrase_id, h.doc_id, h.start, l.len
  HAVING count(*) = l.len
),
matched AS (SELECT DISTINCT phrase_id, doc_id FROM occ),
pqs AS (
  SELECT phrase_id AS query_id, term_id, count(*)::BIGINT AS qf
  FROM pterms GROUP BY 1, 2
),
scored AS (
  SELECT q.query_id, m.doc_id,
         sum(
           q.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (t.tf / (t.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM pqs q
  JOIN vocab v ON v.term_id = q.term_id
  JOIN matched m ON m.phrase_id = q.query_id
  JOIN tf t ON t.term = v.term AND t.doc_id = m.doc_id
  JOIN dl ON dl.doc_id = m.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT r.query_id, r.doc_id,
         floor(r.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY r.query_id
           ORDER BY floor(r.score * 1e9) DESC, r.doc_id ASC
         )::INT AS rank
  FROM scored r
) ranked
WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""


def _prox_values() -> str:
    rows = ",".join(f"({i},{a},{b})" for i, (a, b) in enumerate(PROX_SPECS))
    return f"(VALUES {rows}) AS t(pair_id, t1, t2)"


_PROX_SQL = f"""
WITH raw AS (
  SELECT doc_id, string_split_regex(lower(text), '[^0-9a-z]+') AS l
  FROM documents
),
tok0 AS (
  SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS ord FROM raw
),
toks_ord AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS pos
  FROM tok0 WHERE term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks_ord GROUP BY 1, 2),
vocab AS (
  SELECT term,
         row_number() OVER (ORDER BY count(*) DESC, term ASC) - 1 AS term_id
  FROM tf GROUP BY term
),
pairs AS (SELECT * FROM {_prox_values()})
SELECT q.pair_id, p1.doc_id, count(*)::BIGINT AS pair_count
FROM pairs q
JOIN vocab v1 ON v1.term_id = q.t1
JOIN vocab v2 ON v2.term_id = q.t2
JOIN toks_ord p1 ON p1.term = v1.term
JOIN toks_ord p2 ON p2.term = v2.term AND p2.doc_id = p1.doc_id
  AND p2.pos - p1.pos BETWEEN 1 AND {PROX_WINDOW}
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _ranked_and(spark, sf_dir):
    idx = _get_index(spark, sf_dir)
    raw = run_queries(spark, idx, QUERY_SPECS, algo="ranked_and", k=100,
                      dtype="float64")
    w = Window.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (
        raw.withColumn("score_q", F.floor(F.col("score") * 1e9).cast("long"))
        .withColumn("qrank", F.row_number().over(w))
        .where(F.col("qrank") <= TOPK)
        .select("query_id", F.col("qrank").cast("int").alias("rank"),
                "doc_id", "score_q")
    )


def _entry_boolean_and(spark, sf_dir):
    idx = _get_index(spark, sf_dir)
    return run_boolean_queries(spark, idx, QUERY_SPECS, mode="and")


def _entry_boolean_or(spark, sf_dir):
    idx = _get_index(spark, sf_dir)
    return run_boolean_queries(spark, idx, QUERY_SPECS, mode="or")


# (pos_terms, neg_terms) AND-NOT workload: exclusions that bite, a
# self-contradiction (x AND NOT x = empty), and rare-tail exclusions
ANDNOT_SPECS: list[tuple[list[int], list[int]]] = [
    ([0], [1]),
    ([1, 3], [2]),
    ([2], [2]),
    ([0, 4], [30, 29]),
    ([5], [0]),
    ([9, 11], [13, 17]),
]


def _entry_boolean_and_not(spark, sf_dir):
    """Boolean MUST/MUST_NOT (Lucene clause pair): docs containing every
    positive term and none of the negative terms. The positive lists
    meet in a searchsorted intersection; each negative list then decodes
    only the blocks over those matches, never the full list
    (queries.boolean_and_not; no reference counterpart — queries.hpp
    stops at AND/OR)."""
    idx = _get_index(spark, sf_dir)
    return run_boolean_queries(spark, idx, ANDNOT_SPECS, mode="and_not")


# facet-counting workload: AND match sets of varying selectivity
FACET_SPECS: list[list[int]] = [[0], [1, 3], [2, 5], [0, 4, 7], [30]]


def _entry_search_facets(spark, sf_dir):
    """Faceted search (Lucene doc-values facets): per matched query, the
    count of matching docs per `lang` value over the FULL match set. The
    facet ordinal array ships once per worker (norm_lens bounding
    argument) and counting is one np.bincount inside the match kernel —
    no (query, doc) row ever shuffles (dint_spark/facets.py)."""
    from dint_spark.facets import build_doc_facets, run_facet_queries

    idx = _get_index(spark, sf_dir)
    fac = build_doc_facets(
        spark, _documents(spark, sf_dir), idx.num_docs, "lang")
    return run_facet_queries(spark, idx, FACET_SPECS, fac, mode="and")


def _entry_search_multi_terms(spark, sf_dir):
    """ES multi_terms aggregation: buckets keyed by the (source, lang)
    tuple over the FULL match set. The composite key concatenates into
    ONE facet column, so the whole op is the single-bincount facet
    kernel over a composite ordinal array — no extra pass, no wider
    shuffle; the output splits the key back into its fields."""
    from dint_spark.facets import build_doc_facets, run_facet_queries

    idx = _get_index(spark, sf_dir)
    docs = _documents(spark, sf_dir).withColumn(
        "src_lang", F.concat_ws("|", "source", "lang"))
    fac = build_doc_facets(spark, docs, idx.num_docs, "src_lang")
    res = run_facet_queries(spark, idx, FACET_SPECS, fac, mode="and")
    return res.select(
        "query_id",
        F.substring_index("facet", "|", 1).alias("source"),
        F.substring_index("facet", "|", -1).alias("lang"),
        "n_docs")


SORT_FIELD_K = 10
# n_chars range-facet bucket edges (testdata n_chars spans ~48..558, so
# the below-edges[0] and >=edges[-1] drop paths are both exercised)
RANGE_EDGES = [100, 250, 400, 520]


def _entry_search_sort_by_field(spark, sf_dir):
    """Sort-by-field retrieval (ES ``sort: [{n_chars: desc}]``): boolean
    AND match + top-10 by (doc value desc, doc_id asc) in ONE kernel pass
    over the i64 doc-values sidecar — the FULL match set ranks in-worker,
    only |queries| x k rows leave (dint_spark/facets.py
    run_sorted_queries; missing-value docs never rank)."""
    from dint_spark.facets import build_doc_values, run_sorted_queries

    idx = _get_index(spark, sf_dir)
    vals = build_doc_values(
        spark, _documents(spark, sf_dir), idx.num_docs, "n_chars")
    return run_sorted_queries(
        spark, idx, FACET_SPECS, vals, k=SORT_FIELD_K, mode="and",
        descending=True)


def _entry_search_sort_by_keyword(spark, sf_dir):
    """Sort-by-keyword retrieval (ES ``sort: [{source: asc}]``): the
    facet ordinal array doubles as an order-isomorphic doc value, so
    keyword sorting reuses the sort-by-field kernel and joins the
    broadcast ordinal dimension on the k-row output
    (facets.run_keyword_sorted_queries)."""
    from dint_spark.facets import (build_doc_facets,
                                   run_keyword_sorted_queries)

    idx = _get_index(spark, sf_dir)
    fac = build_doc_facets(
        spark, _documents(spark, sf_dir), idx.num_docs, "source")
    return run_keyword_sorted_queries(spark, idx, FACET_SPECS, fac,
                                      k=SORT_FIELD_K, mode="and",
                                      descending=False)


def _entry_search_facets_range(spark, sf_dir):
    """Numeric range facets (ES ``range`` aggregation) on n_chars: per
    query, matched-doc counts per [lo, hi) bucket over the FULL match
    set — one searchsorted+bincount appended to the boolean kernel, no
    (query, doc) row ever shuffles (facets.run_range_facet_queries)."""
    from dint_spark.facets import build_doc_values, run_range_facet_queries

    idx = _get_index(spark, sf_dir)
    vals = build_doc_values(
        spark, _documents(spark, sf_dir), idx.num_docs, "n_chars")
    return run_range_facet_queries(
        spark, idx, FACET_SPECS, vals, RANGE_EDGES, mode="and")


def _entry_search_stats(spark, sf_dir):
    """ES ``stats`` aggregation over the FULL match set: per query, the
    matched-doc count and count/sum/min/max of n_chars over valued
    matches — one vectorized pass in the boolean kernel, ONE row per
    query out (facets.run_stats_queries)."""
    from dint_spark.facets import build_doc_values, run_stats_queries

    idx = _get_index(spark, sf_dir)
    vals = build_doc_values(
        spark, _documents(spark, sf_dir), idx.num_docs, "n_chars")
    return run_stats_queries(spark, idx, FACET_SPECS, vals, mode="and")


def _entry_search_explain(spark, sf_dir):
    """Score explanation (ES _explain / Lucene Explanation): per
    quantized-BM25 top-10 doc, one row per matched query term with its
    exact (tf, df) and quantized score contribution — the per-term
    breakdown users debug rankings with (dint_spark/explain.py)."""
    from dint_spark.explain import run_queries_explain

    idx = _get_index(spark, sf_dir)
    return run_queries_explain(spark, idx, QUERY_SPECS, k=TOPK,
                               dtype="float64")


AN_QUERIES = ["the joins and rows", "tables of values",
              "scans with merges", "the windows and groups",
              "customers orders"]

def _get_analyzed_index(spark, sf_dir):
    """Index over the analyzer-chain transform of the driver documents
    (stopword drop + S-stem), built once per sf_dir and cached."""
    from dint_spark.analyzer import analyze_documents

    def build(adir, tag):
        adocs = analyze_documents(_documents(spark, sf_dir))
        return build_index(spark, pages_from_documents(adocs), adir,
                           IndexConfig(num_buckets=4, input_tag=tag))

    return _cached_entry_index(spark, sf_dir, "analyzed", build)


def _entry_search_reindexed(spark, sf_dir):
    """The ES _reindex API driven end-to-end: the cached base index is
    rebuilt FROM ITSELF through the analyzer chain
    (compact.reindex_index + analyzer.analyzed_tokens — no source
    corpus touched), then queried with analyzed queries. Shares
    search_analyzed's oracle: a reindex must equal a fresh build over
    the analyzed corpus."""
    from dint_spark.analyzer import analyze, analyzed_tokens
    from dint_spark.compact import reindex_index
    from dint_spark.search import parse_queries

    idx = _cached_entry_index(
        spark, sf_dir, "reindexed",
        lambda rdir, tag: reindex_index(
            spark, _get_index(spark, sf_dir), rdir,
            token_transform=analyzed_tokens))
    specs, _ = parse_queries(idx, [" ".join(analyze(q))
                                   for q in AN_QUERIES])
    raw = run_queries(spark, idx, specs, algo="block_max_wand", k=100,
                      dtype="float64")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id"))
    return (
        raw.withColumn("score_q", F.floor(F.col("score") * 1e9).cast("long"))
        .withColumn("qrank", F.row_number().over(w))
        .where(F.col("qrank") <= TOPK)
        .select("query_id", F.col("qrank").cast("int").alias("rank"),
                "doc_id", "score_q")
    )


def _entry_search_analyzed(spark, sf_dir):
    """Analyzed retrieval (the ES analyzer-chain model): the corpus is
    indexed through lowercase -> stopword-drop -> S-stem (JVM CASE
    chain, no UDF — dint_spark/analyzer.py), queries run through the
    exact Python replica of the same chain, so plural query forms match
    singular corpus forms ('joins' -> 'join') and stopwords never
    score."""
    from dint_spark.analyzer import analyze
    from dint_spark.search import parse_queries

    idx = _get_analyzed_index(spark, sf_dir)
    specs, _ = parse_queries(idx, [" ".join(analyze(q))
                                   for q in AN_QUERIES])
    raw = run_queries(spark, idx, specs, algo="block_max_wand", k=100,
                      dtype="float64")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id"))
    return (
        raw.withColumn("score_q", F.floor(F.col("score") * 1e9).cast("long"))
        .withColumn("qrank", F.row_number().over(w))
        .where(F.col("qrank") <= TOPK)
        .select("query_id", F.col("qrank").cast("int").alias("rank"),
                "doc_id", "score_q")
    )


PCT_PS = (25, 50, 75, 95)


def _entry_search_extended_stats(spark, sf_dir):
    """ES extended_stats: the stats row plus the exact int64 sum of
    squares, from which variance/std derive caller-side — same single
    in-kernel pass as search_stats (facets.run_stats_queries
    extended=True)."""
    from dint_spark.facets import build_doc_values, run_stats_queries

    idx = _get_index(spark, sf_dir)
    vals = build_doc_values(
        spark, _documents(spark, sf_dir), idx.num_docs, "n_chars")
    return run_stats_queries(spark, idx, FACET_SPECS, vals, mode="and",
                             extended=True)


def _entry_search_percentiles(spark, sf_dir):
    """ES percentiles aggregation, EXACT nearest-rank (value at 1-based
    sorted rank ceil(p/100*n) of the valued match set) — one in-kernel
    sort, one integer row per query (facets.run_percentile_queries)."""
    from dint_spark.facets import build_doc_values, run_percentile_queries

    idx = _get_index(spark, sf_dir)
    vals = build_doc_values(
        spark, _documents(spark, sf_dir), idx.num_docs, "n_chars")
    return run_percentile_queries(spark, idx, FACET_SPECS, vals,
                                  ps=PCT_PS, mode="and")


BOOST_FACTOR = 0.5  # binary-exact field_value_factor


def _entry_search_boosted(spark, sf_dir):
    """Function score (ES function_score / field_value_factor, log1p
    modifier): BM25 * ln(1 + 0.5 * n_chars), missing values neutral —
    the recency/popularity boost pattern (facets.run_boosted_queries)."""
    from dint_spark.facets import build_doc_values, run_boosted_queries

    idx = _get_index(spark, sf_dir)
    vals = build_doc_values(
        spark, _documents(spark, sf_dir), idx.num_docs, "n_chars")
    return run_boosted_queries(spark, idx, QUERY_SPECS, vals,
                               factor=BOOST_FACTOR, k=TOPK,
                               dtype="float64")


def _entry_search_cardinality(spark, sf_dir):
    """ES ``cardinality`` aggregation over the FULL match set, EXACT
    (the corpus-level mergeable-HLL path is events_cardinality): per
    AND query, matched-doc count + distinct n_chars values among
    matched docs (facets.run_cardinality_queries)."""
    from dint_spark.facets import build_doc_values, run_cardinality_queries

    idx = _get_index(spark, sf_dir)
    vals = build_doc_values(
        spark, _documents(spark, sf_dir), idx.num_docs, "n_chars")
    return run_cardinality_queries(spark, idx, FACET_SPECS, vals,
                                   mode="and")


def _cardinality_sql() -> str:
    # _FACET_MATCHED is defined later in the module; resolve at call time
    return _FACET_MATCHED + """
SELECT m.query_id, count(*)::BIGINT AS n_docs,
       count(DISTINCT d.n_chars)::BIGINT AS n_distinct
FROM matched m JOIN documents d ON d.doc_id = m.doc_id
GROUP BY 1 ORDER BY 1
"""


# terms_set workload: 3-4 distinct terms per query; the per-doc required
# count is the derived field n_chars % 3 + 1 (1..3 — the
# minimum_should_match_field contract with a field that actually varies)
TERMS_SET_SPECS: list[list[int]] = [[0, 1, 3], [2, 5, 7, 9], [1, 30, 4],
                                    [0, 2, 6, 11]]


def _entry_search_terms_set(spark, sf_dir):
    """ES ``terms_set`` query (minimum_should_match_field): a doc
    matches when it contains at least REQUIRED(doc) of the query's
    terms, REQUIRED = n_chars % 3 + 1 per doc; score = BM25 over the
    matched terms, quantized rank (bool_query.run_terms_set_queries)."""
    from dint_spark.bool_query import run_terms_set_queries
    from dint_spark.facets import build_doc_values

    idx = _get_index(spark, sf_dir)
    vals = build_doc_values(
        spark, _documents(spark, sf_dir).withColumn(
            "req", F.pmod("n_chars", F.lit(3)) + 1),
        idx.num_docs, "req")
    return run_terms_set_queries(spark, idx, TERMS_SET_SPECS, vals,
                                 k=TOPK, dtype="float64")


def _terms_set_sql() -> str:
    vals = ", ".join(f"({qi}, {t})" for qi, ts in enumerate(TERMS_SET_SPECS)
                     for t in sorted(set(ts)))
    return (_PRELUDE + f"""
, tsq(query_id, term_id) AS (VALUES {vals}),
m AS (
  SELECT q.query_id, tf.doc_id, count(*) AS mc,
         sum(
           greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5)))
           * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM tsq q
  JOIN vocab v ON v.term_id = q.term_id
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT m.query_id, m.doc_id,
         floor(m.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY m.query_id
           ORDER BY floor(m.score * 1e9) DESC, m.doc_id ASC
         )::INT AS rank
  FROM m JOIN documents d ON d.doc_id = m.doc_id
  WHERE m.mc >= (d.n_chars % 3) + 1
) WHERE rank <= {TOPK}
ORDER BY 1, 2
""")


RF_BOOST = 2.0    # rank_feature saturation params, binary-exact
RF_PIVOT = 256.0


def _entry_search_rank_feature(spark, sf_dir):
    """ES ``rank_feature`` (saturation): BM25 + 2 * v/(v + 256) with
    v = n_chars — the additive static-signal channel (pagerank/quality
    features); missing values add 0
    (facets.run_rank_feature_queries)."""
    from dint_spark.facets import (build_doc_values,
                                   run_rank_feature_queries)

    idx = _get_index(spark, sf_dir)
    vals = build_doc_values(
        spark, _documents(spark, sf_dir), idx.num_docs, "n_chars")
    return run_rank_feature_queries(spark, idx, QUERY_SPECS, vals,
                                    boost=RF_BOOST, pivot=RF_PIVOT,
                                    k=TOPK, dtype="float64")


def _rank_feature_sql() -> str:
    m = (f"(CASE WHEN d.n_chars IS NULL THEN 0.0 "
         f"ELSE {RF_BOOST} * (d.n_chars / (d.n_chars + {RF_PIVOT})) END)")
    return (_PRELUDE + _SCORED + f"""
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT s.query_id, s.doc_id,
         floor((s.score + {m}) * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY floor((s.score + {m}) * 1e9) DESC, s.doc_id ASC
         )::INT AS rank
  FROM scored s
  JOIN documents d ON d.doc_id = s.doc_id
) WHERE rank <= {TOPK}
ORDER BY 1, 2
""")


# --- geo search: synthetic fixed-point geo_points derived from doc_id
# (1e-7 deg, every 13th doc missing), identical integer arithmetic on
# both sides; box crosses the antimeridian; ordinates per dint_spark.geo
GEO_ORIGIN = (12.5, 42.25)          # (lat, lon) degrees
GEO_RADIUS_M = 3_000_000.0          # geo_distance filter radius
GEO_BOX = (-450_000_000, 1_500_000_000, 450_000_000, -1_500_000_000)
#          south          west (150E)    north         east (-150 = 150W)


def _geo_coord_exprs():
    miss = F.col("doc_id") % 13 == 7
    lat = (F.col("doc_id") * 2654435761 + 1013904223) % 1800000001 \
        - 900000000
    lon = (F.col("doc_id") * 1103515245 + 12345) % 3600000001 - 1800000000
    return (F.when(miss, F.lit(None)).otherwise(lat).cast("long"),
            F.when(miss, F.lit(None)).otherwise(lon).cast("long"))


def _geo_values(spark, sf_dir, idx):
    from dint_spark.geo import build_geo_values

    lat_c, lon_c = _geo_coord_exprs()
    docs = _documents(spark, sf_dir).select(
        "doc_id", lat_c.alias("lat_q"), lon_c.alias("lon_q"))
    return build_geo_values(spark, docs, idx.num_docs, "lat_q", "lon_q")


_GEO_CTE = """
, geo AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 7 THEN NULL
              ELSE (doc_id * 2654435761 + 1013904223) % 1800000001
                   - 900000000 END AS lat_q,
         CASE WHEN doc_id % 13 = 7 THEN NULL
              ELSE (doc_id * 1103515245 + 12345) % 3600000001
                   - 1800000000 END AS lon_q
  FROM documents
)
"""


def _entry_search_geo_bbox(spark, sf_dir):
    """ES ``geo_bounding_box`` filter: the box (crossing the
    antimeridian: west 150E, east 150W) packs into a DocMask over the
    fixed-point geo_point sidecars, then standard filtered BM25 with
    corpus-wide statistics (dint_spark/geo.py geo_bbox_mask; the
    Lucene filter/liveDocs pattern)."""
    from dint_spark.geo import geo_bbox_mask

    idx = _get_index(spark, sf_dir)
    lat, lon = _geo_values(spark, sf_dir, idx)
    dm = geo_bbox_mask(lat, lon, *GEO_BOX)
    raw = run_queries(spark, idx, QUERY_SPECS, algo="block_max_wand_vec",
                      k=100, dtype="float64", doc_filter=dm)
    return _rank_quantized(raw)


def _geo_bbox_sql() -> str:
    s, w, n, e = GEO_BOX
    wrap = (f"(g.lon_q >= {w} AND g.lon_q <= {e})" if w <= e
            else f"(g.lon_q >= {w} OR g.lon_q <= {e})")
    return (_PRELUDE + _SCORED + _GEO_CTE + f"""
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT sc.query_id, sc.doc_id,
         floor(sc.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY sc.query_id
           ORDER BY floor(sc.score * 1e9) DESC, sc.doc_id ASC
         )::INT AS rank
  FROM scored sc
  JOIN geo g ON g.doc_id = sc.doc_id
  WHERE g.lat_q IS NOT NULL
    AND g.lat_q >= {s} AND g.lat_q <= {n} AND {wrap}
) WHERE rank <= {TOPK}
ORDER BY 1, 2
""")


def _entry_search_geo_distance(spark, sf_dir):
    """ES ``sort: [{{_geo_distance}}]``: boolean AND match + top-k by
    (great-circle distance to the origin asc, doc_id asc) through the
    sort-by-field kernel over the i64 haversine ordinate (strictly
    monotone in distance; dint_spark/geo.py run_geo_distance_sorted).
    Missing geo_points never rank."""
    from dint_spark.geo import run_geo_distance_sorted

    idx = _get_index(spark, sf_dir)
    lat, lon = _geo_values(spark, sf_dir, idx)
    res = run_geo_distance_sorted(spark, idx, FACET_SPECS, lat, lon,
                                  GEO_ORIGIN[0], GEO_ORIGIN[1],
                                  k=SORT_FIELD_K, mode="and")
    return res.select("query_id", "rank", "doc_id",
                      F.col("val").alias("dist_q"))


def _geo_distance_sql() -> str:
    from dint_spark.geo import geo_ordinate_sql

    ord_sql = geo_ordinate_sql("g.lat_q", "g.lon_q", *GEO_ORIGIN)
    return (_FACET_MATCHED + _GEO_CTE + f"""
SELECT query_id, rank, doc_id, dist_q FROM (
  SELECT m.query_id, m.doc_id, {ord_sql} AS dist_q,
         row_number() OVER (
           PARTITION BY m.query_id
           ORDER BY {ord_sql} ASC, m.doc_id ASC
         )::INT AS rank
  FROM matched m
  JOIN geo g ON g.doc_id = m.doc_id
  WHERE g.lat_q IS NOT NULL
) WHERE rank <= {SORT_FIELD_K}
ORDER BY 1, 2
""")


def _entry_search_geo_radius(spark, sf_dir):
    """ES ``geo_distance`` filter: docs within GEO_RADIUS_M meters of
    the origin (inclusive), thresholded on the haversine ordinate —
    monotonicity makes the integer comparison exact — then filtered
    BM25 (dint_spark/geo.py geo_distance_mask)."""
    from dint_spark.geo import geo_distance_mask

    idx = _get_index(spark, sf_dir)
    lat, lon = _geo_values(spark, sf_dir, idx)
    dm = geo_distance_mask(lat, lon, GEO_ORIGIN[0], GEO_ORIGIN[1],
                           GEO_RADIUS_M)
    raw = run_queries(spark, idx, QUERY_SPECS, algo="block_max_wand_vec",
                      k=100, dtype="float64", doc_filter=dm)
    return _rank_quantized(raw)


def _geo_radius_sql() -> str:
    from dint_spark.geo import distance_threshold_ordinate, geo_ordinate_sql

    thr = distance_threshold_ordinate(GEO_RADIUS_M)
    ord_sql = geo_ordinate_sql("g.lat_q", "g.lon_q", *GEO_ORIGIN)
    return (_PRELUDE + _SCORED + _GEO_CTE + f"""
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT sc.query_id, sc.doc_id,
         floor(sc.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY sc.query_id
           ORDER BY floor(sc.score * 1e9) DESC, sc.doc_id ASC
         )::INT AS rank
  FROM scored sc
  JOIN geo g ON g.doc_id = sc.doc_id
  WHERE g.lat_q IS NOT NULL AND {ord_sql} <= {thr}
) WHERE rank <= {TOPK}
ORDER BY 1, 2
""")



# --- nested / parent-child: block-join parents (parent = doc_id DIV
# PARENT_BLOCK, every 29th child an orphan), rollup per dint_spark.nested
PARENT_BLOCK = 4
NESTED_MINC = 2


def _parent_ords(spark, sf_dir, idx):
    from dint_spark.facets import build_doc_values

    docs = _documents(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("doc_id") % 29 == 11, F.lit(None))
        .otherwise(F.expr(f"doc_id DIV {PARENT_BLOCK}"))
        .cast("long").alias("parent"))
    return build_doc_values(spark, docs, idx.num_docs, "parent")


_PARENT_CTE = f"""
, par AS (
  SELECT doc_id,
         CASE WHEN doc_id % 29 = 11 THEN NULL
              ELSE doc_id // {PARENT_BLOCK} END AS parent
  FROM documents
)
"""


def _entry_search_nested(spark, sf_dir, score_mode, min_children):
    """ES ``nested``/``has_child``: child-level BM25 over the full match
    set, quantized child scores rolled up per block-join parent (parent
    ordinal sidecar), min_children floor, top-k parents
    (dint_spark/nested.py run_nested_queries)."""
    from dint_spark.nested import run_nested_queries

    idx = _get_index(spark, sf_dir)
    ords = _parent_ords(spark, sf_dir, idx)
    return run_nested_queries(spark, idx, QUERY_SPECS, ords,
                              score_mode=score_mode,
                              min_children=min_children, k=TOPK)


def _nested_sql(score_mode: str, min_children: int) -> str:
    agg = {"sum": "sum(floor(sc.score * 1e9)::BIGINT)",
           "max": "max(floor(sc.score * 1e9)::BIGINT)",
           "min": "min(floor(sc.score * 1e9)::BIGINT)",
           "avg": "sum(floor(sc.score * 1e9)::BIGINT) // count(*)",
           }[score_mode]
    return (_PRELUDE + _SCORED + _PARENT_CTE + f"""
, rolled AS (
  SELECT sc.query_id, p.parent AS parent_id,
         ({agg})::BIGINT AS score_q,
         count(*)::BIGINT AS n_children
  FROM scored sc
  JOIN par p ON p.doc_id = sc.doc_id
  WHERE p.parent IS NOT NULL
  GROUP BY 1, 2
)
SELECT query_id, rank, parent_id, score_q, n_children FROM (
  SELECT query_id, parent_id, score_q, n_children,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score_q DESC, parent_id ASC
         )::INT AS rank
  FROM rolled WHERE n_children >= {min_children}
) WHERE rank <= {TOPK}
ORDER BY 1, 2
""")


HAS_PARENT_MODS = (0, 2)  # parent_id % 5 in (0, 2) is the parent predicate


def _entry_search_has_parent(spark, sf_dir):
    """ES ``has_parent``: a parent-level predicate lifts to a child
    DocMask via one parent-ordinal lookup (orphans never match), then
    standard filtered BM25 over the children
    (dint_spark/nested.py children_of_parents_mask)."""
    from dint_spark.nested import children_of_parents_mask

    idx = _get_index(spark, sf_dir)
    ords = _parent_ords(spark, sf_dir, idx)
    import numpy as np

    dm = children_of_parents_mask(
        ords, lambda p: np.isin(p % 5, np.array(HAS_PARENT_MODS)))
    raw = run_queries(spark, idx, QUERY_SPECS, algo="block_max_wand_vec",
                      k=100, dtype="float64", doc_filter=dm)
    return _rank_quantized(raw)


def _has_parent_sql() -> str:
    mods = ", ".join(map(str, HAS_PARENT_MODS))
    return (_PRELUDE + _SCORED + _PARENT_CTE + f"""
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT sc.query_id, sc.doc_id,
         floor(sc.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY sc.query_id
           ORDER BY floor(sc.score * 1e9) DESC, sc.doc_id ASC
         )::INT AS rank
  FROM scored sc
  JOIN par p ON p.doc_id = sc.doc_id
  WHERE p.parent IS NOT NULL AND p.parent % 5 IN ({mods})
) WHERE rank <= {TOPK}
ORDER BY 1, 2
""")


GEO_RING_EDGES_M = (0.0, 1_000_000.0, 3_000_000.0, 8_000_000.0,
                    21_000_000.0)


def _geo_ring_ordinate_edges() -> list:
    """Distance rings -> quantized-ordinate edges: ring i covers
    distance (r_i, r_{i+1}] == ordinate [thr(r_i)+1, thr(r_{i+1})+1)
    (with ring 0 starting at ordinate 0 so the origin itself buckets).
    Monotonicity of the ordinate makes the integer bucketing exactly
    the distance bucketing; both engines share these integer edges."""
    from dint_spark.geo import distance_threshold_ordinate

    return [0] + [distance_threshold_ordinate(m) + 1
                  for m in GEO_RING_EDGES_M[1:]]


def _entry_search_geo_rings(spark, sf_dir):
    """ES ``geo_distance`` AGGREGATION (distance-ring buckets around an
    origin): matched-doc counts per ring over the FULL match set,
    riding the range-facet kernel over the haversine ordinate — the
    same one-pass searchsorted+bincount as search_facets_range, zero
    geometry joins. Missing geo_points bucket nowhere (ES missing
    semantics)."""
    from dint_spark.facets import run_range_facet_queries
    from dint_spark.geo import haversine_ordinate

    idx = _get_index(spark, sf_dir)
    lat, lon = _geo_values(spark, sf_dir, idx)
    ords = haversine_ordinate(lat, lon, *GEO_ORIGIN)
    return run_range_facet_queries(spark, idx, FACET_SPECS, ords,
                                   _geo_ring_ordinate_edges(), mode="and")


def _geo_rings_sql() -> str:
    from dint_spark.geo import geo_ordinate_sql

    e = _geo_ring_ordinate_edges()
    rb = ", ".join(f"({i}, {e[i]}, {e[i + 1]})"
                   for i in range(len(e) - 1))
    ord_sql = geo_ordinate_sql("g.lat_q", "g.lon_q", *GEO_ORIGIN)
    return (_FACET_MATCHED + _GEO_CTE + f"""
, rb(bucket, lo, hi) AS (VALUES {rb}),
ov AS (
  SELECT m.query_id, m.doc_id, {ord_sql} AS o
  FROM matched m JOIN geo g ON g.doc_id = m.doc_id
  WHERE g.lat_q IS NOT NULL
)
SELECT query_id, bucket::INT AS bucket, lo::BIGINT AS lo,
       hi::BIGINT AS hi, count(*)::BIGINT AS n_docs
FROM ov JOIN rb ON ov.o >= rb.lo AND ov.o < rb.hi
GROUP BY 1, 2, 3, 4
ORDER BY 1, 2
""")


# pinned-query workload: (organic terms, pinned doc ids) — pins that
# also rank organically (dedup), no pins, and pins on a tail query
PINNED_SPECS: list[tuple] = [([0, 3], [1, 0]), ([1, 2], []),
                             ([2], [7, 3, 11])]


def _entry_search_pinned(spark, sf_dir):
    """ES ``pinned`` query: promoted doc ids first in their given order
    (synthetic 2^62-ladder score channel), then organic BM25 results
    excluding the pinned ids (search.search_pinned)."""
    from dint_spark.search import search_pinned

    idx = _get_index(spark, sf_dir)
    return search_pinned(spark, idx, PINNED_SPECS, k=TOPK)


def _pinned_sql() -> str:
    from collections import Counter

    from dint_spark.search import PINNED_BASE

    pos_r, pin_r = [], []
    for qid, (terms, pins) in enumerate(PINNED_SPECS):
        qf = Counter(int(t) for t in terms)
        pos_r += [f"({qid}, {t}, {c})" for t, c in sorted(qf.items())]
        pin_r += [f"({qid}, {i}, {int(d)})" for i, d in enumerate(pins)]
    pins_v = ", ".join(pin_r) if pin_r else "(-1, -1, -1)"
    return (_PRELUDE + f"""
, pq(query_id, term_id, qf) AS (VALUES {", ".join(pos_r)}),
pins(query_id, pidx, doc_id) AS (VALUES {pins_v}),
pscored AS (
  SELECT pq.query_id, tf.doc_id,
         sum(
           pq.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5)))
           * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM pq
  JOIN vocab v ON v.term_id = pq.term_id
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
org AS (
  SELECT s.query_id, s.doc_id, floor(s.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY floor(s.score * 1e9) DESC, s.doc_id ASC) AS orank
  FROM pscored s
  WHERE NOT EXISTS (SELECT 1 FROM pins p
                    WHERE p.query_id = s.query_id
                      AND p.doc_id = s.doc_id)
),
npins AS (SELECT query_id, count(*) AS n FROM pins GROUP BY 1),
allr AS (
  SELECT query_id, pidx + 1 AS rank, doc_id,
         {PINNED_BASE} - pidx AS score_q
  FROM pins WHERE query_id >= 0
  UNION ALL
  SELECT o.query_id, o.orank + coalesce(np.n, 0) AS rank, o.doc_id,
         o.score_q
  FROM org o LEFT JOIN npins np ON np.query_id = o.query_id
)
SELECT query_id, rank::INT AS rank, doc_id, score_q
FROM allr WHERE rank <= {TOPK}
ORDER BY 1, 2
""")


# boosting-query workload: (positive, negative) term-id pairs — a
# demotion that bites, a multi-term negative, no negative, and
# positive==negative (everything demoted, order preserved)
BOOSTING_SPECS: list[tuple] = [([0, 3], [1]), ([1, 2], [5, 7]),
                               ([2], []), ([0], [0])]
NEGATIVE_BOOST = 0.25  # binary-exact


def _entry_search_boosting(spark, sf_dir):
    """ES ``boosting`` query: positive-clause BM25 ranking with docs
    matching ANY negative term DEMOTED by x0.25 (kept in the result
    set — exclusion is must_not's job). bool_query.run_boosting_queries."""
    from dint_spark.bool_query import run_boosting_queries

    idx = _get_index(spark, sf_dir)
    return run_boosting_queries(spark, idx, BOOSTING_SPECS,
                                negative_boost=NEGATIVE_BOOST, k=TOPK,
                                dtype="float64")


def _boosting_sql() -> str:
    from collections import Counter

    pos_r, neg_r = [], []
    for qid, (pos, neg) in enumerate(BOOSTING_SPECS):
        qf = Counter(int(t) for t in pos)
        pos_r += [f"({qid}, {t}, {c})" for t, c in sorted(qf.items())]
        neg_r += [f"({qid}, {t})" for t in sorted(set(neg))]
    negs = ", ".join(neg_r) if neg_r else "(-1, -1)"
    return (_PRELUDE + f"""
, bq_pos(query_id, term_id, qf) AS (VALUES {", ".join(pos_r)}),
bq_neg(query_id, term_id) AS (VALUES {negs}),
pscored AS (
  SELECT p.query_id, tf.doc_id,
         sum(
           p.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5)))
           * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM bq_pos p
  JOIN vocab v ON v.term_id = p.term_id
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
demoted AS (
  SELECT ps.query_id, ps.doc_id,
         ps.score * (CASE WHEN EXISTS (
           SELECT 1 FROM bq_neg q
           JOIN vocab v2 ON v2.term_id = q.term_id
           JOIN tf t2 ON t2.term = v2.term AND t2.doc_id = ps.doc_id
           WHERE q.query_id = ps.query_id)
           THEN {NEGATIVE_BOOST} ELSE 1.0 END) AS score
  FROM pscored ps
)
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT query_id, doc_id, floor(score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY floor(score * 1e9) DESC, doc_id ASC
         )::INT AS rank
  FROM demoted
) WHERE rank <= {TOPK}
ORDER BY 1, 2
""")


DECAY_ORIGIN = 300   # n_chars sweet spot (corpus spans ~48..558)
DECAY_SCALE = 150
DECAY_RATE = 0.5


def _entry_search_decay(spark, sf_dir):
    """ES function_score GAUSS decay on n_chars (the recency/
    geo-proximity shape): BM25 * exp(-(|n_chars-300|)^2 * ln(2)/150^2),
    so the multiplier halves at distance 150 from the origin; missing
    values neutral (facets.run_decay_queries)."""
    from dint_spark.facets import build_doc_values, run_decay_queries

    idx = _get_index(spark, sf_dir)
    vals = build_doc_values(
        spark, _documents(spark, sf_dir), idx.num_docs, "n_chars")
    return run_decay_queries(spark, idx, QUERY_SPECS, vals,
                             origin=DECAY_ORIGIN, scale=DECAY_SCALE,
                             decay=DECAY_RATE, k=TOPK, dtype="float64")


def _rank_eval_oracle() -> str:
    from dint_spark.rankeval import rank_eval_sql

    return rank_eval_sql(_PRELUDE, _q_values(), topk=TOPK)


QS_QUERIES = [
    "+join hash -slow",
    "scan +filter batch^2",
    "customer order",
    "+merge -zzznotaword",
    "value^3 -table +row",
]


def _entry_search_query_string(spark, sf_dir):
    """ES query_string (the `q=` mini-language): +must / -must_not /
    bare-OR / ^N integer boosts parsed driver-side and routed through
    the compound bool kernel (search.parse_query_string +
    search_query_string). Boost-by-qf makes ^N exact integer weighting;
    an OOV must_not is a no-op in both engines."""
    from dint_spark.search import search_query_string

    idx = _get_index(spark, sf_dir)
    return search_query_string(spark, idx, QS_QUERIES, k=TOPK)


def _query_string_sql() -> str:
    """Oracle: the bool-DSL SQL with clause VALUES carrying term
    STRINGS (joined on vocab.term), derived from the SAME pure-string
    parse the entry uses — parser laws are pinned separately in
    tests/test_query_string.py, and must-counts resolve against the
    vocabulary so OOV drops match the Spark contract."""
    from collections import Counter

    from dint_spark.search import parse_query_string

    pos, must, should, neg, mins = [], [], [], [], []
    for qid, q in enumerate(QS_QUERIES):
        p = parse_query_string(q)
        qf = Counter(p["must"]) + Counter(p["should"])
        pos += [f"({qid}, '{t}', {c})" for t, c in sorted(qf.items())]
        must += [f"({qid}, '{t}')" for t in sorted(set(p["must"]))]
        should += [f"({qid}, '{t}')" for t in sorted(set(p["should"]))]
        neg += [f"({qid}, '{t}')" for t in sorted(set(p["must_not"]))]
        ms = 0 if p["must"] else min(1, len(p["should"]))
        mins.append(f"({qid}, {ms})")

    def vals(name, cols, rows):
        body = ", ".join(rows) if rows else "(-1, '')"
        return f"{name}({cols}) AS (VALUES {body})"

    return (
        _PRELUDE
        + f"""
, {vals("qs_pos", "query_id, term, qf", pos)},
{vals("qs_must", "query_id, term", must)},
{vals("qs_should", "query_id, term", should)},
{vals("qs_neg", "query_id, term", neg)},
qs_min(query_id, min_should) AS (VALUES {", ".join(mins)}),
qscored AS (
  SELECT p.query_id, tf.doc_id,
         sum(
           p.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM qs_pos p
  JOIN vocab v ON v.term = p.term
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
qelig AS (
  SELECT b.query_id, b.doc_id
  FROM qscored b JOIN qs_min m ON m.query_id = b.query_id
  WHERE (SELECT count(*) FROM qs_must q
         JOIN vocab v2 ON v2.term = q.term
         JOIN tf t2 ON t2.term = q.term AND t2.doc_id = b.doc_id
         WHERE q.query_id = b.query_id) =
        (SELECT count(*) FROM qs_must q
         JOIN vocab v2b ON v2b.term = q.term
         WHERE q.query_id = b.query_id)
    AND (SELECT count(*) FROM qs_should q
         JOIN tf t3 ON t3.term = q.term AND t3.doc_id = b.doc_id
         WHERE q.query_id = b.query_id) >= m.min_should
    AND NOT EXISTS (SELECT 1 FROM qs_neg q
         JOIN tf t4 ON t4.term = q.term AND t4.doc_id = b.doc_id
         WHERE q.query_id = b.query_id)
)
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT b.query_id, b.doc_id,
         floor(b.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY b.query_id
           ORDER BY floor(b.score * 1e9) DESC, b.doc_id ASC
         )::INT AS rank
  FROM qscored b
  JOIN qelig e ON e.query_id = b.query_id AND e.doc_id = b.doc_id
) WHERE rank <= {TOPK}
ORDER BY 1, 2
"""
    )


SUGG_PHRASES = ["join hashh", "scann filter", "customer ordr", "merge",
                "zzzz batch", "sow data"]
SUGG_PHRASE_N = 3
SUGG_PHRASE_CANDS = 3


def _entry_suggest_phrase(spark, sf_dir):
    """ES phrase suggester ("did you mean" over whole queries): per-word
    distance-<=1 candidates capped DirectSpellChecker-style, phrases
    scored by a quantized df-unigram LM plus per-edit penalties
    (search.suggest_phrase). "zzzz batch" yields no rows — a word with
    no correction kills its phrase, the ES contract."""
    from dint_spark.search import suggest_phrase

    idx = _get_index(spark, sf_dir)
    return suggest_phrase(spark, idx, SUGG_PHRASES, n=SUGG_PHRASE_N,
                          max_cands=SUGG_PHRASE_CANDS)


def _phrase_suggest_sql() -> str:
    """Oracle with NO libm call on the SQL side (ADVICE r3): the
    quantized unigram logprob floor(ln(df/total_df)*2^24) is computed
    ONCE here, at generation time, with the SAME Python ``math.log``
    the entry's suggest_phrase uses, over (term, df) read from the gate
    corpus (sf0.01, overridable via SPARK_GRAFT_ORACLE_SF_DIR) with the
    pinned tokenizer — and injected as a qlp VALUES table. A last-ulp
    libm difference between engines therefore cannot flip the floored
    score. Candidate SELECTION stays in SQL (levenshtein<=1 join, the
    DirectSpellChecker cap order — exact string/integer ops); the inner
    join on the injected qlp means a candidate the generation-time
    enumeration missed drops its rows and fails the gate loudly rather
    than diverging silently."""
    import math
    import os

    import duckdb

    from dint_spark.search import (PHRASE_EDIT_PENALTY_Q,
                                   PHRASE_LM_SCALE, _lev_le1)

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR",
                            "/root/testdata/sf0.01")
    vocab_rows = duckdb.connect().execute(f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '[^0-9a-z]+'))
                   AS term
          FROM read_parquet('{sf_dir}/documents.parquet')
        ),
        tfd AS (SELECT doc_id, term FROM toks WHERE term <> ''
                GROUP BY 1, 2)
        SELECT term, count(*)::BIGINT AS df FROM tfd GROUP BY 1
    """).fetchall()
    total_df = sum(df for _, df in vocab_rows)
    words = sorted({w for p in SUGG_PHRASES for w in p.lower().split()})
    qlp_rows = []
    for w in words:
        for term, df in vocab_rows:
            if _lev_le1(term, w):
                qlp_rows.append(
                    f"('{w}', '{term}', "
                    f"{math.floor(math.log(df / total_df) * PHRASE_LM_SCALE)})")
    qlp_vals = ", ".join(qlp_rows) if qlp_rows else "('', '', 0)"
    wvals = ", ".join(f"('{w}')" for w in words)
    branches = []
    for qid, p in enumerate(SUGG_PHRASES):
        ws = p.lower().split()
        als = [f"c{i}" for i in range(len(ws))]
        phrase = " || ' ' || ".join(f"{a}.term" for a in als)
        score = " + ".join(f"{a}.s" for a in als)
        joins = " CROSS JOIN ".join(
            f"(SELECT term, s FROM cand WHERE word = '{w}' "
            f"AND rn <= {SUGG_PHRASE_CANDS}) {a}"
            for w, a in zip(ws, als))
        branches.append(
            f"SELECT {qid} AS query_id, {phrase} AS phrase, "
            f"{score} AS score_q FROM {joins}")
    return (_PRELUDE + f"""
, words(word) AS (VALUES {wvals}),
qlp(word, term, qlp) AS (VALUES {qlp_vals}),
cand AS (
  SELECT w.word, v.term,
         q.qlp + (CASE WHEN v.term = w.word THEN 0 ELSE 1 END)
             * {PHRASE_EDIT_PENALTY_Q} AS s,
         row_number() OVER (
           PARTITION BY w.word
           ORDER BY CASE WHEN v.term = w.word THEN 0 ELSE 1 END,
                    v.df DESC, v.term ASC) AS rn
  FROM words w
  JOIN vocab v ON levenshtein(w.word, v.term) <= 1
  JOIN qlp q ON q.word = w.word AND q.term = v.term
),
phrases AS ({" UNION ALL ".join(branches)})
SELECT query_id, rank, phrase, score_q FROM (
  SELECT query_id, phrase, score_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_q DESC, phrase ASC)::INT AS rank
  FROM phrases
) r WHERE rank <= {SUGG_PHRASE_N}
ORDER BY query_id, rank
""")


def _entry_search_rank_eval(spark, sf_dir):
    """ES Ranking Evaluation API (_rank_eval): precision@10, MRR and
    NDCG@10 of the quantized-BM25 BMW run against conjunctive graded
    judgments (rel = min(3, tf sum) for all-terms matches), all exact
    integer arithmetic — dint_spark/rankeval.py."""
    from dint_spark.rankeval import run_rank_eval

    idx = _get_index(spark, sf_dir)
    return run_rank_eval(spark, idx, QUERY_SPECS, k=TOPK)


PERC_QUERIES = ["join hash", "scan filter batch", "customer order",
                "zzznotaword join", "merge"]


def _entry_percolate(spark, sf_dir):
    """Percolation (the ES percolator — search inverted): registered
    term-bag queries matched against the documents table; a doc fires a
    query when it contains EVERY distinct query token. Broadcast query
    table, one tokenize->join->count pass, stateless — the identical
    plan runs per Structured-Streaming micro-batch
    (dint_spark/percolate.py)."""
    from dint_spark.percolate import percolate, register_queries

    reg = register_queries(spark, PERC_QUERIES)
    return percolate(_documents(spark, sf_dir), reg)


def _percolate_sql() -> str:
    rows = []
    for qid, q in enumerate(PERC_QUERIES):
        toks = sorted({t for t in q.lower().split() if t})
        rows += [f"({qid}, '{t}', {len(toks)})" for t in toks]
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS term
  FROM documents
),
dterms AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> ''),
pq(query_id, term, n_terms) AS (VALUES {", ".join(rows)})
SELECT pq.query_id, d.doc_id
FROM pq JOIN dterms d ON d.term = pq.term
GROUP BY 1, 2
HAVING count(*) = any_value(pq.n_terms)
ORDER BY 1, 2
"""


COLLAPSE_K = 8


def _entry_search_collapse(spark, sf_dir):
    """Field collapsing (ES ``collapse``) on `source`: BM25 top-8 GROUPS
    per query, each source domain contributing only its best doc — the
    one-hit-per-site result page. One exact scoring pass over the full
    match set + two numpy lexsorts in-kernel; only |queries| x k rows
    leave the workers (facets.run_collapsed_queries)."""
    from dint_spark.facets import build_doc_facets, run_collapsed_queries

    idx = _get_index(spark, sf_dir)
    fac = build_doc_facets(
        spark, _documents(spark, sf_dir), idx.num_docs, "source")
    return run_collapsed_queries(
        spark, idx, QUERY_SPECS, fac, k=COLLAPSE_K, dtype="float64")


IH_K_GROUPS = 5
IH_PER_GROUP = 3


def _entry_search_inner_hits(spark, sf_dir):
    """Collapse with inner hits (ES collapse + inner_hits) on `source`:
    top-5 domains per query (ranked by each domain's best doc), each
    carrying its own top-3 docs — the "3 hits per site" page. One exact
    scoring pass + vectorized within-group cumcount in-kernel
    (facets.run_grouped_topk)."""
    from dint_spark.facets import build_doc_facets, run_grouped_topk

    idx = _get_index(spark, sf_dir)
    fac = build_doc_facets(
        spark, _documents(spark, sf_dir), idx.num_docs, "source")
    return run_grouped_topk(spark, idx, QUERY_SPECS, fac,
                            k_groups=IH_K_GROUPS,
                            per_group=IH_PER_GROUP, dtype="float64")


# a cursor past every real (score_q, doc_id): page 2 of an exhausted
# query is empty, not a repeat of page 1
_PAGE_END = (-(10 ** 18), 0)


def _entry_search_page2(spark, sf_dir):
    """Cursor pagination (ES ``search_after``): page 1 = BM25 top-10, then
    page 2 resumes strictly after each query's last (score_q, doc_id) —
    returned rows are the global ranks 11..20, computed with a k-entry
    selection rather than an offset heap (paging.run_queries_after). The
    per-query cursors are the only driver-side state (|queries| rows)."""
    from dint_spark.paging import run_queries_after

    idx = _get_index(spark, sf_dir)
    p1 = run_queries_after(spark, idx, QUERY_SPECS, None, k=TOPK,
                           dtype="float64")
    last = {int(r["query_id"]): (int(r["score_q"]), int(r["doc_id"]))
            for r in p1.where(F.col("rank") == TOPK).collect()}
    cur = [last.get(q, _PAGE_END) for q in range(len(QUERY_SPECS))]
    return run_queries_after(spark, idx, QUERY_SPECS, cur, k=TOPK,
                             dtype="float64")


# compound bool workload: (must, should, must_not, min_should) — covers
# pure-should with a threshold, must+should rescoring, exclusions that
# bite, a contradiction (empty), a term in two clauses, duplicate musts
BOOL_DSL_SPECS: list[tuple] = [
    ([], [0, 1, 2], [], 2),
    ([0], [3, 5], [], None),
    ([1, 3], [], [2], None),
    ([2], [], [2], None),
    ([4], [4, 7], [], 1),
    ([], [9, 11, 13], [], None),
    ([0, 0, 5], [], [], None),
]


MM_TITLE_N = 8
MM_QUERIES = ["join hash", "scan filter batch", "slow merge",
              "customer order", "vector window qqzznotaword"]
MM_BOOSTS = {"title": 2.0, "body": 1.0}   # binary-exact boosts
MM_TB = 0.25                              # binary-exact tie_breaker

def _get_field_indexes(spark, sf_dir):
    """title/body per-field indexes over the driver documents (title =
    first MM_TITLE_N tokens under the pinned tokenizer, body = rest) —
    built once per sf_dir and cached like _get_index."""
    toks = F.filter(F.split(F.lower("text"), "[^0-9a-z]+"),
                    lambda x: x != F.lit(""))
    fields = {
        "title": F.concat_ws(" ", F.slice(toks, 1, MM_TITLE_N)),
        "body": F.concat_ws(" ", F.slice(toks, MM_TITLE_N + 1, 1 << 30)),
    }

    def builder(expr):
        def build(fdir, tag):
            fdocs = _documents(spark, sf_dir).select(
                "doc_id", expr.alias("text"), F.lit("xx").alias("lang"))
            return build_index(spark, pages_from_documents(fdocs), fdir,
                               IndexConfig(num_buckets=4, input_tag=tag))
        return build

    return {fname: _cached_entry_index(spark, sf_dir, fname, builder(expr))
            for fname, expr in fields.items()}


def _entry_search_multi_match(spark, sf_dir):
    """multi_match best_fields over per-field title/body indexes (title =
    first 8 tokens, boost 2.0; tie_breaker 0.25): per-field BM25 with
    each field's own df/len/avg statistics, combined max + tb * rest —
    the ES default multi-field query (dint_spark/multifield.py)."""
    from dint_spark.multifield import run_multi_match

    fidx = _get_field_indexes(spark, sf_dir)
    return run_multi_match(spark, fidx, MM_QUERIES, boosts=MM_BOOSTS,
                           mode="best_fields", tie_breaker=MM_TB,
                           k=TOPK, dtype="float64")


def _entry_search_bool_dsl(spark, sf_dir):
    """Compound bool query DSL (ES ``bool``): must / should / must_not /
    minimum_should_match in ONE scored kernel pass — eligibility by
    vectorized clause counts over the match union, BM25 over the
    must+should multiset, must_not decoded but never scored
    (dint_spark/bool_query.py)."""
    from dint_spark.bool_query import run_bool_queries

    idx = _get_index(spark, sf_dir)
    return run_bool_queries(spark, idx, BOOL_DSL_SPECS, k=TOPK,
                            dtype="float64")


RERANK_N_CANDIDATES = 50


def _entry_search_rerank(spark, sf_dir):
    """Two-phase retrieval: BM25 top-50 candidates (float64 BMW) -> exact
    int-quantized embedding-cosine rerank -> top-10 by (cos desc, bm25
    desc, doc_id asc). Query vector for query_id q = embeddings row
    vec_id=q; corpus vectors join candidates by doc_id=vec_id
    (search.rerank_by_embedding — broadcast candidates against the big
    embeddings table, dot product JVM-side)."""
    from dint_spark.search import rerank_by_embedding

    idx = _get_index(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    corpus_vecs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    qv = emb.where(F.col("vec_id") < len(QUERY_SPECS)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return rerank_by_embedding(
        spark, idx, QUERY_SPECS, corpus_vecs, qv,
        n_candidates=RERANK_N_CANDIDATES, k=TOPK,
        algo="block_max_wand", dtype="float64")


HYBRID_K_EACH = 30
HYBRID_RRF_K = 60


def _entry_search_hybrid(spark, sf_dir):
    """Hybrid lexical+vector retrieval via Reciprocal Rank Fusion (the
    standard hybrid-search combiner, rrf_k=60): BM25 top-30 (float64 BMW)
    fused with the exact int-quantized cosine top-30,
    rrf = 1/(60+lrank) + 1/(60+vrank) floor-quantized at 1e12, top-10 by
    (rrf_q desc, doc_id asc). Fusion is rank arithmetic over
    2 x |Q| x k_each rows — driver-trivial at any corpus size
    (search.hybrid_rrf; the vector arm is pluggable with ann_lsh/ann_ivf
    output at crawl scale)."""
    from dint_spark.search import hybrid_rrf

    idx = _get_index(spark, sf_dir)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    corpus_vecs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    qv = emb.where(F.col("vec_id") < len(QUERY_SPECS)).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return hybrid_rrf(spark, idx, QUERY_SPECS, corpus_vecs, qv,
                      k=TOPK, k_each=HYBRID_K_EACH, rrf_k=HYBRID_RRF_K,
                      algo="block_max_wand", dtype="float64")


# spelling-suggestion workload: a delete typo, an insert typo, an exact
# vocabulary word, a plural, a two-candidate prefix, and a no-match
SUGGEST_SPECS: list[str] = ["scann", "dat", "key", "rows", "ag", "zzzz"]
SUGGEST_TOPK = 5


def _entry_suggest_spelling(spark, sf_dir):
    """"Did you mean" (Lucene DirectSpellChecker contract): per word, the
    top-5 vocabulary terms at levenshtein distance <= 1 by (dist asc,
    df desc, term asc) — exact word suggests itself first. Candidates
    come from the SymSpell delete-1 table probe (pushed IN filter), the
    oracle from DuckDB's levenshtein over the vocab CTE
    (search.suggest_spelling)."""
    from dint_spark.search import build_fuzzy_table, suggest_spelling

    idx = _get_index(spark, sf_dir)
    build_fuzzy_table(spark, idx)  # idempotent; exercises the scale path
    return suggest_spelling(spark, idx, SUGGEST_SPECS, n=SUGGEST_TOPK)


# 2-edit workload: a double typo, a transpose-ish pair, the same exact
# word (suggests itself at dist 0 ahead of dist-2 cousins), and a miss
SUGGEST2_SPECS: list[str] = ["scannn", "dta", "key", "rwos", "zzzz"]


def _entry_suggest_spelling2(spark, sf_dir):
    """DirectSpellChecker's practical contract, maxEdits=2: per word,
    the top-5 vocabulary terms at levenshtein distance <= 2 by
    (dist asc, df desc, term asc). Candidates come from the SymSpell
    delete-2 table probe (r3 VERDICT item 6 — same bounded-probe/
    exact-banded-verify plan as delete-1, table ~3.6x bigger at the
    web's ~7-char average term); the oracle from DuckDB's levenshtein
    over the vocab CTE (search.suggest_spelling max_edits=2)."""
    from dint_spark.search import build_fuzzy_table, suggest_spelling

    idx = _get_index(spark, sf_dir)
    build_fuzzy_table(spark, idx, max_edits=2)  # idempotent
    return suggest_spelling(spark, idx, SUGGEST2_SPECS, n=SUGGEST_TOPK,
                            max_edits=2)


# significant-terms workload: AND match sets of varying selectivity
SIG_SPECS: list[list[int]] = [[0], [1, 3], [2, 5], [30]]
SIG_TOPK = 8


def _entry_significant_terms(spark, sf_dir):
    """ES significant_terms aggregation: per AND match set, the top-8
    terms by JLH ((fg_rate - bg_rate) * fg_rate/bg_rate, floor-quantized
    at 1e6), positive significance decided EXACTLY (fg*N > df*n_fg in
    decimal(38)), query terms excluded, ties by term_id. Foreground dfs
    count each matched doc's DISTINCT terms; one corpus-table pass,
    match set never collects (mining.significant_terms)."""
    from dint_spark.mining import significant_terms

    idx = _get_index(spark, sf_dir)
    return significant_terms(spark, idx, SIG_SPECS,
                             _documents(spark, sf_dir), k=SIG_TOPK)


# more-like-this workload: source docs spread across the id range
MLT_DOC_IDS: list[int] = [0, 7, 42, 123, 201]
MLT_MAX_TERMS = 8
MLT_MIN_TF = 1
MLT_MIN_DF = 1
MLT_MAX_DF_FRAC = 0.9


def _entry_more_like_this(spark, sf_dir):
    """Lucene MoreLikeThis: per source doc, top-8 terms by
    tf * (ln(N/(df+1)) + 1) under the frequency gates, re-queried as a
    weighted BM25 disjunction (weight = source tf, the weighted channel),
    source doc excluded, top-10 by quantized score
    (mining.more_like_this)."""
    from dint_spark.mining import more_like_this

    idx = _get_index(spark, sf_dir)
    return more_like_this(
        spark, idx, MLT_DOC_IDS, _documents(spark, sf_dir), k=TOPK,
        max_terms=MLT_MAX_TERMS, min_tf=MLT_MIN_TF, min_df=MLT_MIN_DF,
        max_df_frac=MLT_MAX_DF_FRAC, algo="block_max_wand",
        dtype="float64")


def _entry_wand_max_weights(spark, sf_dir):
    """wand_data relational build: per-term max partial BM25 weight
    (float64, quantized) — ref include/ds2i/wand_data.hpp:34-48."""
    idx = _get_index(spark, sf_dir)
    postings = _entry_postings_flat(spark, sf_dir)
    dl = _entry_doclens(spark, sf_dir)
    stats = dl.agg(F.avg("len").alias("avg_len")).crossJoin(
        dl.agg(F.count("*").alias("n_docs"))
    )
    j = postings.join(dl, "doc_id").crossJoin(stats)
    w = F.col("freq") / (
        F.col("freq")
        + 1.2 * (0.5 + 0.5 * (F.col("len") / F.col("avg_len")))
    )
    return (
        j.groupBy("term_id")
        .agg(
            F.count("*").alias("df"),
            F.floor(F.max(w) * 1e9).cast("long").alias("max_weight_q"),
        )
    )


_BOOL_AND_SQL = (
    _PRELUDE
    + f", {_q_values()}"
    + """
SELECT qs.query_id, tf.doc_id
FROM (SELECT DISTINCT query_id, term_id FROM qs) qs
JOIN vocab v ON v.term_id = qs.term_id
JOIN tf ON tf.term = v.term
GROUP BY 1, 2
HAVING count(*) = (SELECT count(DISTINCT term_id) FROM qs q2
                   WHERE q2.query_id = qs.query_id)
ORDER BY 1, 2
"""
)

_BOOL_OR_SQL = (
    _PRELUDE
    + f", {_q_values()}"
    + """
SELECT DISTINCT qs.query_id, tf.doc_id
FROM qs
JOIN vocab v ON v.term_id = qs.term_id
JOIN tf ON tf.term = v.term
ORDER BY 1, 2
"""
)

def _andnot_values() -> tuple[str, str]:
    pos, neg = [], []
    for qid, (p, n) in enumerate(ANDNOT_SPECS):
        pos += [f"({qid}, {t})" for t in sorted(set(p))]
        neg += [f"({qid}, {t})" for t in sorted(set(n))]
    return (
        "qp(query_id, term_id) AS (VALUES " + ", ".join(pos) + ")",
        "qn(query_id, term_id) AS (VALUES " + ", ".join(neg) + ")",
    )


_QP_VALUES, _QN_VALUES = _andnot_values()

_BOOL_ANDNOT_SQL = (
    _PRELUDE
    + f", {_QP_VALUES}, {_QN_VALUES}"
    + """
SELECT m.query_id, m.doc_id FROM (
  SELECT qp.query_id, tf.doc_id
  FROM qp
  JOIN vocab v ON v.term_id = qp.term_id
  JOIN tf ON tf.term = v.term
  GROUP BY 1, 2
  HAVING count(*) = (SELECT count(*) FROM qp q2
                     WHERE q2.query_id = qp.query_id)
) m
WHERE NOT EXISTS (
  SELECT 1 FROM qn
  JOIN vocab v2 ON v2.term_id = qn.term_id
  JOIN tf t2 ON t2.term = v2.term
  WHERE qn.query_id = m.query_id AND t2.doc_id = m.doc_id
)
ORDER BY 1, 2
"""
)


def _facet_values() -> str:
    rows = []
    for qid, terms in enumerate(FACET_SPECS):
        rows += [f"({qid}, {t})" for t in sorted(set(terms))]
    return "fq(query_id, term_id) AS (VALUES " + ", ".join(rows) + ")"


_FACETS_SQL = (
    _PRELUDE
    + f", {_facet_values()}"
    + """
, matched AS (
  SELECT fq.query_id, tf.doc_id
  FROM fq
  JOIN vocab v ON v.term_id = fq.term_id
  JOIN tf ON tf.term = v.term
  GROUP BY 1, 2
  HAVING count(*) = (SELECT count(*) FROM fq q2
                     WHERE q2.query_id = fq.query_id)
)
SELECT m.query_id, d.lang AS facet, count(*)::BIGINT AS n_docs
FROM matched m
JOIN documents d ON d.doc_id = m.doc_id
WHERE d.lang IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
"""
)

_FACET_MATCHED = (
    _PRELUDE
    + f", {_facet_values()}"
    + """
, matched AS (
  SELECT fq.query_id, tf.doc_id
  FROM fq
  JOIN vocab v ON v.term_id = fq.term_id
  JOIN tf ON tf.term = v.term
  GROUP BY 1, 2
  HAVING count(*) = (SELECT count(*) FROM fq q2
                     WHERE q2.query_id = fq.query_id)
)
"""
)

_SORT_FIELD_SQL = (
    _FACET_MATCHED
    + f"""
SELECT query_id, rank, doc_id, val FROM (
  SELECT m.query_id, m.doc_id, d.n_chars::BIGINT AS val,
         row_number() OVER (
           PARTITION BY m.query_id
           ORDER BY d.n_chars DESC, m.doc_id ASC
         )::INT AS rank
  FROM matched m
  JOIN documents d ON d.doc_id = m.doc_id
  WHERE d.n_chars IS NOT NULL
) WHERE rank <= {SORT_FIELD_K}
ORDER BY 1, 2
"""
)


_SORT_KEYWORD_SQL = (
    _FACET_MATCHED
    + f"""
SELECT query_id, rank, doc_id, keyword FROM (
  SELECT m.query_id, m.doc_id, d.source AS keyword,
         row_number() OVER (
           PARTITION BY m.query_id
           ORDER BY d.source ASC, m.doc_id ASC
         )::INT AS rank
  FROM matched m
  JOIN documents d ON d.doc_id = m.doc_id
  WHERE d.source IS NOT NULL
) WHERE rank <= {SORT_FIELD_K}
ORDER BY 1, 2
"""
)


_MULTI_TERMS_SQL = (
    _FACET_MATCHED
    + """
SELECT m.query_id, d.source, d.lang, count(*)::BIGINT AS n_docs
FROM matched m
JOIN documents d ON d.doc_id = m.doc_id
WHERE d.source IS NOT NULL AND d.lang IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""
)


def _range_bucket_values() -> str:
    rows = [f"({i}, {lo}, {hi})"
            for i, (lo, hi) in enumerate(zip(RANGE_EDGES, RANGE_EDGES[1:]))]
    return "rb(bucket, lo, hi) AS (VALUES " + ", ".join(rows) + ")"


_FACETS_RANGE_SQL = (
    _FACET_MATCHED
    + f", {_range_bucket_values()}"
    + """
SELECT m.query_id, rb.bucket::INT AS bucket, rb.lo::BIGINT AS lo,
       rb.hi::BIGINT AS hi, count(*)::BIGINT AS n_docs
FROM matched m
JOIN documents d ON d.doc_id = m.doc_id
JOIN rb ON d.n_chars >= rb.lo AND d.n_chars < rb.hi
GROUP BY 1, 2, 3, 4
ORDER BY 1, 2
"""
)

_COLLAPSE_SQL = (
    _PRELUDE
    + _SCORED
    + f"""
, sq AS (
  SELECT s.query_id, s.doc_id,
         floor(s.score * 1e9)::BIGINT AS score_q, d.source AS facet
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
),
reps AS (
  SELECT query_id, doc_id, score_q, facet,
         row_number() OVER (
           PARTITION BY query_id, facet
           ORDER BY score_q DESC, doc_id ASC
         ) AS gr
  FROM sq
)
SELECT query_id, rank, facet, doc_id, score_q FROM (
  SELECT query_id, facet, doc_id, score_q,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score_q DESC, doc_id ASC
         )::INT AS rank
  FROM reps WHERE gr = 1
) WHERE rank <= {COLLAPSE_K}
ORDER BY 1, 2
"""
)

_INNER_HITS_SQL = (
    _PRELUDE
    + _SCORED
    + f"""
, sq AS (
  SELECT s.query_id, s.doc_id,
         floor(s.score * 1e9)::BIGINT AS score_q, d.source AS facet
  FROM scored s JOIN documents d ON d.doc_id = s.doc_id
),
gm AS (
  SELECT query_id, doc_id, score_q, facet,
         row_number() OVER (
           PARTITION BY query_id, facet
           ORDER BY score_q DESC, doc_id ASC
         ) AS gr
  FROM sq
),
gl AS (
  SELECT query_id, facet,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY score_q DESC, doc_id ASC
         )::INT AS grank
  FROM gm WHERE gr = 1
)
SELECT m.query_id, gl.grank AS rank, m.gr::INT AS group_rank, m.facet,
       m.doc_id, m.score_q
FROM gm m
JOIN gl ON gl.query_id = m.query_id AND gl.facet = m.facet
WHERE gl.grank <= {IH_K_GROUPS} AND m.gr <= {IH_PER_GROUP}
ORDER BY 1, 2, 3
"""
)

_PAGE2_SQL = (
    _PRELUDE
    + _SCORED
    + f"""
SELECT query_id, (rn - {TOPK})::INT AS rank, doc_id, score_q FROM (
  SELECT query_id, doc_id, floor(score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY floor(score * 1e9) DESC, doc_id ASC
         ) AS rn
  FROM scored
) WHERE rn > {TOPK} AND rn <= {2 * TOPK}
ORDER BY 1, 2
"""
)

def _analyzed_sql() -> str:
    """Oracle for analyzed retrieval: the analyzer chain as a SQL CASE
    (stopword NOT IN + the three terminal-exception stem rules), then
    the standard BM25 CTEs over analyzed terms; query tokens are
    Python-analyzed into the VALUES list (same `analyze` the entry
    uses)."""
    from collections import Counter

    from dint_spark.analyzer import STOPWORDS, analyze

    rows = []
    for qid, q in enumerate(AN_QUERIES):
        rows += [f"({qid}, '{t}', {c})"
                 for t, c in sorted(Counter(analyze(q)).items())]
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH rawtoks AS (
  SELECT doc_id,
         unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS t
  FROM documents
),
kept AS (
  SELECT doc_id, t FROM rawtoks WHERE t <> '' AND t NOT IN ({stops})
),
atoks AS (
  SELECT doc_id,
         CASE WHEN t LIKE '%ies' THEN
                CASE WHEN t LIKE '%eies' OR t LIKE '%aies' THEN t
                     ELSE substr(t, 1, len(t) - 3) || 'y' END
              WHEN t LIKE '%es' THEN
                CASE WHEN t LIKE '%aes' OR t LIKE '%ees'
                          OR t LIKE '%oes' THEN t
                     ELSE substr(t, 1, len(t) - 1) END
              WHEN t LIKE '%s' THEN
                CASE WHEN t LIKE '%us' OR t LIKE '%ss' THEN t
                     ELSE substr(t, 1, len(t) - 1) END
              ELSE t END AS term
  FROM kept
),
toks2 AS (SELECT doc_id, term FROM atoks WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks2 GROUP BY 1, 2),
dl AS (
  SELECT d.doc_id, count(t.term)::BIGINT AS len
  FROM documents d LEFT JOIN toks2 t ON d.doc_id = t.doc_id
  GROUP BY 1
),
stats AS (
  SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         avg(len) AS avg_len
  FROM dl
),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
aq(query_id, term, qf) AS (VALUES {", ".join(rows)}),
ascored AS (
  SELECT aq.query_id, tf.doc_id,
         sum(
           aq.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM aq
  JOIN tf ON tf.term = aq.term
  JOIN vocab v ON v.term = aq.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT query_id, doc_id, floor(score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY floor(score * 1e9) DESC, doc_id ASC
         )::INT AS rank
  FROM ascored
) WHERE rank <= {TOPK}
ORDER BY 1, 2
"""


_EXPLAIN_SQL = (
    _PRELUDE
    + _SCORED
    + f"""
, topk AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           row_number() OVER (
             PARTITION BY query_id
             ORDER BY floor(score * 1e9) DESC, doc_id ASC
           )::INT AS rank
    FROM scored
  ) WHERE rank <= {TOPK}
)
SELECT t.query_id, t.rank, t.doc_id, qs.term_id, tf.tf, v.df,
       floor(
         qs.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
         * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         * 1e9
       )::BIGINT AS contrib_q
FROM topk t
JOIN qs ON qs.query_id = t.query_id
JOIN vocab v ON v.term_id = qs.term_id
JOIN tf ON tf.term = v.term AND tf.doc_id = t.doc_id
JOIN dl ON dl.doc_id = t.doc_id
CROSS JOIN stats s
ORDER BY 1, 2, 4
"""
)

_STATS_SQL = (
    _FACET_MATCHED
    + """
SELECT m.query_id,
       count(*)::BIGINT AS n_docs,
       count(d.n_chars)::BIGINT AS n_valued,
       coalesce(sum(d.n_chars), 0)::BIGINT AS vsum,
       min(d.n_chars)::BIGINT AS vmin,
       max(d.n_chars)::BIGINT AS vmax
FROM matched m
JOIN documents d ON d.doc_id = m.doc_id
GROUP BY 1
ORDER BY 1
"""
)


_XSTATS_SQL = (
    _FACET_MATCHED
    + """
SELECT m.query_id,
       count(*)::BIGINT AS n_docs,
       count(d.n_chars)::BIGINT AS n_valued,
       coalesce(sum(d.n_chars), 0)::BIGINT AS vsum,
       min(d.n_chars)::BIGINT AS vmin,
       max(d.n_chars)::BIGINT AS vmax,
       coalesce(sum(d.n_chars * d.n_chars), 0)::BIGINT AS vsumsq
FROM matched m
JOIN documents d ON d.doc_id = m.doc_id
GROUP BY 1
ORDER BY 1
"""
)


_PCT_SQL = (
    _FACET_MATCHED
    + f"""
, ranked_vals AS (
  SELECT m.query_id, d.n_chars AS val,
         row_number() OVER (PARTITION BY m.query_id
                            ORDER BY d.n_chars) AS rn,
         count(*) OVER (PARTITION BY m.query_id) AS n
  FROM matched m
  JOIN documents d ON d.doc_id = m.doc_id
  WHERE d.n_chars IS NOT NULL
)
SELECT query_id, max(n)::BIGINT AS n_valued,
       {", ".join(
           f"min(CASE WHEN rn = ceil({p} * n / 100.0) THEN val END)"
           f"::BIGINT AS p{p}" for p in PCT_PS)}
FROM ranked_vals
GROUP BY 1
ORDER BY 1
"""
)


_BOOSTED_SQL = (
    _PRELUDE
    + _SCORED
    + f"""
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT s.query_id, s.doc_id,
         floor(s.score
               * (CASE WHEN d.n_chars IS NULL THEN 1.0
                       ELSE ln(1 + {BOOST_FACTOR} * d.n_chars) END)
               * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY floor(s.score
               * (CASE WHEN d.n_chars IS NULL THEN 1.0
                       ELSE ln(1 + {BOOST_FACTOR} * d.n_chars) END)
               * 1e9) DESC, s.doc_id ASC
         )::INT AS rank
  FROM scored s
  JOIN documents d ON d.doc_id = s.doc_id
) WHERE rank <= {TOPK}
ORDER BY 1, 2
"""
)


def _decay_sql() -> str:
    # lam computed HERE with numpy so the literal in the SQL is the
    # bit-identical double the kernel uses (both sides then call their
    # own exp — the same cross-engine libm convention as the ln-based
    # BM25 oracles)
    import numpy as np
    lam = repr(float(-np.log(DECAY_RATE) / (DECAY_SCALE ** 2)))
    m = (f"(CASE WHEN d.n_chars IS NULL THEN 1.0 "
         f"ELSE exp(-((abs(d.n_chars - {DECAY_ORIGIN}))^2) * {lam}) END)")
    return (
        _PRELUDE + _SCORED + f"""
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT s.query_id, s.doc_id,
         floor(s.score * {m} * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY s.query_id
           ORDER BY floor(s.score * {m} * 1e9) DESC, s.doc_id ASC
         )::INT AS rank
  FROM scored s
  JOIN documents d ON d.doc_id = s.doc_id
) WHERE rank <= {TOPK}
ORDER BY 1, 2
""")


def _multi_match_sql() -> str:
    """Oracle for multi_match best_fields: per-field tf/len/df/avg CTEs
    (title = first MM_TITLE_N tokens, body = rest), per-field BM25,
    boosted max + tie_breaker * rest, quantized rank."""
    import re
    from collections import Counter

    rows = []
    for qid, q in enumerate(MM_QUERIES):
        toks = [t for t in re.split(TOKEN_SPLIT_RE, q.lower()) if t]
        rows += [f"({qid}, '{t}', {c})"
                 for t, c in sorted(Counter(toks).items())]
    bt, bb = MM_BOOSTS["title"], MM_BOOSTS["body"]
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^0-9a-z]+'),
                             x -> x <> '') AS l
  FROM documents
),
ftoks AS (
  SELECT b.doc_id,
         CASE WHEN g.i <= {MM_TITLE_N} THEN 'title' ELSE 'body' END AS fld,
         b.l[g.i] AS term
  FROM base b,
       LATERAL (SELECT unnest(generate_series(1, len(b.l))) AS i) g
),
tfq AS (
  SELECT fld, doc_id, term, count(*)::BIGINT AS tf
  FROM ftoks GROUP BY 1, 2, 3
),
flds(fld) AS (VALUES ('title'), ('body')),
dlf AS (
  SELECT b.doc_id, fl.fld, count(t.term)::BIGINT AS len
  FROM base b CROSS JOIN flds fl
  LEFT JOIN ftoks t ON t.doc_id = b.doc_id AND t.fld = fl.fld
  GROUP BY 1, 2
),
statsf AS (
  SELECT fld, (SELECT count(*) FROM documents)::BIGINT AS n_docs,
         avg(len) AS avg_len
  FROM dlf GROUP BY 1
),
vocabf AS (SELECT fld, term, count(*)::BIGINT AS df FROM tfq GROUP BY 1, 2),
mq(query_id, term, qf) AS (VALUES {", ".join(rows)}),
fscored AS (
  SELECT mq.query_id, t.doc_id, t.fld,
         sum(
           mq.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (t.tf / (t.tf + 1.2 * (0.5 + 0.5 * (d.len / s.avg_len))))
         ) AS score
  FROM mq
  JOIN tfq t ON t.term = mq.term
  JOIN vocabf v ON v.fld = t.fld AND v.term = t.term
  JOIN dlf d ON d.doc_id = t.doc_id AND d.fld = t.fld
  JOIN statsf s ON s.fld = t.fld
  GROUP BY 1, 2, 3
),
comb AS (
  SELECT query_id, doc_id,
         coalesce(max(CASE WHEN fld = 'title' THEN {bt}::DOUBLE * score END),
                  0) AS st,
         coalesce(max(CASE WHEN fld = 'body' THEN {bb}::DOUBLE * score END),
                  0) AS sb
  FROM fscored GROUP BY 1, 2
),
tot AS (
  SELECT query_id, doc_id,
         greatest(st, sb)
           + {MM_TB}::DOUBLE * ((st + sb) - greatest(st, sb)) AS score
  FROM comb
)
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT query_id, doc_id, floor(score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY floor(score * 1e9) DESC, doc_id ASC
         )::INT AS rank
  FROM tot
) WHERE rank <= {TOPK}
ORDER BY 1, 2
"""


def _bool_dsl_sql() -> str:
    """Oracle for the compound bool DSL: score over the must+should
    multiset, eligibility via per-clause membership counts, quantized
    rank. Clause tables are VALUES lists; min_should is resolved to the
    ES default here so SQL sees only concrete thresholds."""
    from collections import Counter

    pos, must, should, neg, mins = [], [], [], [], []
    for qid, (m, s, n, ms) in enumerate(BOOL_DSL_SPECS):
        qf = Counter(m) + Counter(s)
        pos += [f"({qid}, {t}, {c})" for t, c in sorted(qf.items())]
        must += [f"({qid}, {t})" for t in sorted(set(m))]
        should += [f"({qid}, {t})" for t in sorted(set(s))]
        neg += [f"({qid}, {t})" for t in sorted(set(n))]
        if ms is None:
            ms = 0 if m else min(1, len(s))
        mins.append(f"({qid}, {ms}, {len(set(m))})")

    def vals(name, cols, rows):
        body = ", ".join(rows) if rows else "(-1, -1)"
        return f"{name}({cols}) AS (VALUES {body})"

    return (
        _PRELUDE
        + f"""
, {vals("bq_pos", "query_id, term_id, qf", pos)},
{vals("bq_must", "query_id, term_id", must)},
{vals("bq_should", "query_id, term_id", should)},
{vals("bq_neg", "query_id, term_id", neg)},
bq_min(query_id, min_should, n_must) AS (VALUES {", ".join(mins)}),
bscored AS (
  SELECT p.query_id, tf.doc_id,
         sum(
           p.qf * greatest(1e-6, ln((s.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len))))
         ) AS score
  FROM bq_pos p
  JOIN vocab v ON v.term_id = p.term_id
  JOIN tf ON tf.term = v.term
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
),
elig AS (
  SELECT b.query_id, b.doc_id
  FROM bscored b JOIN bq_min m ON m.query_id = b.query_id
  WHERE (SELECT count(*) FROM bq_must q
         JOIN vocab v2 ON v2.term_id = q.term_id
         JOIN tf t2 ON t2.term = v2.term AND t2.doc_id = b.doc_id
         WHERE q.query_id = b.query_id) = m.n_must
    AND (SELECT count(*) FROM bq_should q
         JOIN vocab v3 ON v3.term_id = q.term_id
         JOIN tf t3 ON t3.term = v3.term AND t3.doc_id = b.doc_id
         WHERE q.query_id = b.query_id) >= m.min_should
    AND NOT EXISTS (SELECT 1 FROM bq_neg q
         JOIN vocab v4 ON v4.term_id = q.term_id
         JOIN tf t4 ON t4.term = v4.term AND t4.doc_id = b.doc_id
         WHERE q.query_id = b.query_id)
)
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT b.query_id, b.doc_id,
         floor(b.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY b.query_id
           ORDER BY floor(b.score * 1e9) DESC, b.doc_id ASC
         )::INT AS rank
  FROM bscored b
  JOIN elig e ON e.query_id = b.query_id AND e.doc_id = b.doc_id
) WHERE rank <= {TOPK}
ORDER BY 1, 2
"""
    )


_RERANK_SQL = (
    _PRELUDE
    + _SCORED
    + f"""
, cands AS (
  SELECT query_id, doc_id, score_q FROM (
    SELECT r.query_id, r.doc_id,
           floor(r.score * 1e9)::BIGINT AS score_q,
           row_number() OVER (
             PARTITION BY r.query_id
             ORDER BY floor(r.score * 1e9) DESC, r.doc_id ASC
           ) AS crank
    FROM scored r
  ) c WHERE crank <= {RERANK_N_CANDIDATES}
),
dims AS (SELECT unnest(generate_series(1, 64)) AS d),
eq AS (
  SELECT vec_id, d.d,
         floor(embedding[d.d]::DOUBLE * {1 << 20})::BIGINT AS c
  FROM embeddings, dims d
),
n2 AS (SELECT vec_id, sum(c * c)::BIGINT AS n2 FROM eq GROUP BY 1),
dots AS (
  SELECT ca.query_id, ca.doc_id, ca.score_q, sum(x.c * y.c)::BIGINT AS dot
  FROM cands ca
  JOIN eq x ON x.vec_id = ca.query_id
  JOIN eq y ON y.vec_id = ca.doc_id AND y.d = x.d
  GROUP BY 1, 2, 3
),
rer AS (
  SELECT d.query_id, d.doc_id, d.score_q,
         floor(d.dot / sqrt(nq.n2::DOUBLE * nv.n2::DOUBLE) * 1e6)::BIGINT
           AS cos_q
  FROM dots d
  JOIN n2 nq ON nq.vec_id = d.query_id
  JOIN n2 nv ON nv.vec_id = d.doc_id
)
SELECT query_id, rank, doc_id, cos_q, score_q FROM (
  SELECT query_id, doc_id, cos_q, score_q,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_q DESC, score_q DESC, doc_id ASC
         )::INT AS rank
  FROM rer
) r WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""
)

_HYBRID_SQL = (
    _PRELUDE
    + _SCORED
    + f"""
, lex AS (
  SELECT query_id, doc_id, lrank FROM (
    SELECT r.query_id, r.doc_id,
           row_number() OVER (
             PARTITION BY r.query_id
             ORDER BY floor(r.score * 1e9) DESC, r.doc_id ASC
           ) AS lrank
    FROM scored r
  ) c WHERE lrank <= {HYBRID_K_EACH}
),
dims AS (SELECT unnest(generate_series(1, 64)) AS d),
eq AS (
  SELECT vec_id, d.d,
         floor(embedding[d.d]::DOUBLE * {1 << 20})::BIGINT AS c
  FROM embeddings, dims d
),
n2 AS (SELECT vec_id, sum(c * c)::BIGINT AS n2 FROM eq GROUP BY 1),
dots AS (
  SELECT x.vec_id AS query_id, y.vec_id AS doc_id,
         sum(x.c * y.c)::BIGINT AS dot
  FROM eq x JOIN eq y ON y.d = x.d
  WHERE x.vec_id < {len(QUERY_SPECS)}
  GROUP BY 1, 2
),
vec AS (
  SELECT query_id, doc_id, vrank FROM (
    SELECT d.query_id, d.doc_id,
           row_number() OVER (
             PARTITION BY d.query_id
             ORDER BY floor(d.dot / sqrt(nq.n2::DOUBLE * nv.n2::DOUBLE)
                            * 1e6) DESC,
                      d.doc_id ASC
           ) AS vrank
    FROM dots d
    JOIN n2 nq ON nq.vec_id = d.query_id
    JOIN n2 nv ON nv.vec_id = d.doc_id
  ) v WHERE vrank <= {HYBRID_K_EACH}
),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         floor((coalesce(1.0 / ({HYBRID_RRF_K} + l.lrank), 0.0)
                + coalesce(1.0 / ({HYBRID_RRF_K} + v.vrank), 0.0))
               * 1e12)::BIGINT AS rrf_q
  FROM lex l FULL OUTER JOIN vec v
    ON v.query_id = l.query_id AND v.doc_id = l.doc_id
)
SELECT query_id, rank, doc_id, rrf_q FROM (
  SELECT query_id, doc_id, rrf_q,
         row_number() OVER (
           PARTITION BY query_id ORDER BY rrf_q DESC, doc_id ASC
         )::INT AS rank
  FROM fused
) r WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""
)

def _suggest_values() -> str:
    rows = [f"({qid}, '{w}')" for qid, w in enumerate(SUGGEST_SPECS)]
    return "words(query_id, word) AS (VALUES " + ", ".join(rows) + ")"


_SUGGEST_SQL = (
    _PRELUDE
    + f", {_suggest_values()}"
    + f"""
SELECT query_id, rank, term, term_id, dist, df FROM (
  SELECT w.query_id, v.term, v.term_id,
         levenshtein(w.word, v.term)::INT AS dist, v.df,
         row_number() OVER (
           PARTITION BY w.query_id
           ORDER BY levenshtein(w.word, v.term) ASC, v.df DESC,
                    v.term ASC
         )::INT AS rank
  FROM words w JOIN vocab v ON levenshtein(w.word, v.term) <= 1
) r WHERE rank <= {SUGGEST_TOPK}
ORDER BY query_id, rank
"""
)


def _suggest2_sql() -> str:
    rows = ", ".join(f"({qid}, '{w}')"
                     for qid, w in enumerate(SUGGEST2_SPECS))
    return (_PRELUDE + f"""
, words(query_id, word) AS (VALUES {rows})
SELECT query_id, rank, term, term_id, dist, df FROM (
  SELECT w.query_id, v.term, v.term_id,
         levenshtein(w.word, v.term)::INT AS dist, v.df,
         row_number() OVER (
           PARTITION BY w.query_id
           ORDER BY levenshtein(w.word, v.term) ASC, v.df DESC,
                    v.term ASC
         )::INT AS rank
  FROM words w JOIN vocab v ON levenshtein(w.word, v.term) <= 2
) r WHERE rank <= {SUGGEST_TOPK}
ORDER BY query_id, rank
""")


def _sig_values() -> str:
    rows = []
    for qid, terms in enumerate(SIG_SPECS):
        rows += [f"({qid}, {t})" for t in sorted(set(terms))]
    return "sq(query_id, term_id) AS (VALUES " + ", ".join(rows) + ")"


_SIG_SQL = (
    _PRELUDE
    + f", {_sig_values()}"
    + f"""
, matched AS (
  SELECT sq.query_id, tf.doc_id
  FROM sq
  JOIN vocab v ON v.term_id = sq.term_id
  JOIN tf ON tf.term = v.term
  GROUP BY 1, 2
  HAVING count(*) = (SELECT count(*) FROM sq q2
                     WHERE q2.query_id = sq.query_id)
),
nfg AS (SELECT query_id, count(*)::BIGINT AS n_fg FROM matched GROUP BY 1),
fg AS (
  SELECT m.query_id, tf.term, count(*)::BIGINT AS fg
  FROM matched m JOIN tf ON tf.doc_id = m.doc_id
  GROUP BY 1, 2
),
sig AS (
  SELECT f.query_id, v.term_id, f.term, f.fg, v.df,
         floor(((f.fg::DOUBLE / nf.n_fg - v.df::DOUBLE / st.n_docs)
                * ((f.fg::DOUBLE / nf.n_fg) / (v.df::DOUBLE / st.n_docs)))
               * 1e6)::BIGINT AS jlh_q
  FROM fg f
  JOIN vocab v ON v.term = f.term
  JOIN nfg nf ON nf.query_id = f.query_id
  CROSS JOIN stats st
  WHERE f.fg::HUGEINT * st.n_docs > v.df::HUGEINT * nf.n_fg
    AND NOT EXISTS (SELECT 1 FROM sq
                    WHERE sq.query_id = f.query_id
                      AND sq.term_id = v.term_id)
)
SELECT query_id, rank, term_id, term, jlh_q, fg, df FROM (
  SELECT query_id, term_id, term, jlh_q, fg, df,
         row_number() OVER (
           PARTITION BY query_id ORDER BY jlh_q DESC, term_id ASC
         )::INT AS rank
  FROM sig
) r WHERE rank <= {SIG_TOPK}
ORDER BY query_id, rank
"""
)


def _mlt_values() -> str:
    rows = [f"({qid}, {d})" for qid, d in enumerate(MLT_DOC_IDS)]
    return "src(query_id, doc_id) AS (VALUES " + ", ".join(rows) + ")"


_MLT_SQL = (
    _PRELUDE
    + f", {_mlt_values()}"
    + f"""
, sel AS (
  SELECT query_id, term, tf FROM (
    SELECT s.query_id, t.term, t.tf,
           row_number() OVER (
             PARTITION BY s.query_id
             ORDER BY floor((t.tf * (ln((SELECT n_docs FROM stats)::DOUBLE
                                         / (v.df + 1)) + 1.0)) * 1e9) DESC,
                      t.term ASC
           ) AS rn
    FROM src s
    JOIN tf t ON t.doc_id = s.doc_id
    JOIN vocab v ON v.term = t.term
    WHERE t.tf >= {MLT_MIN_TF} AND v.df >= {MLT_MIN_DF}
      AND v.df <= floor({MLT_MAX_DF_FRAC} *
                        (SELECT n_docs FROM stats))::BIGINT
  ) q WHERE rn <= {MLT_MAX_TERMS}
),
wscored AS (
  SELECT s.query_id, tf2.doc_id,
         sum(
           s.tf * greatest(1e-6, ln((st.n_docs - v.df + 0.5) / (v.df + 0.5))) * (1 + 1.2)
           * (tf2.tf / (tf2.tf + 1.2 * (0.5 + 0.5 * (dl.len / st.avg_len))))
         ) AS score
  FROM sel s
  JOIN vocab v ON v.term = s.term
  JOIN tf tf2 ON tf2.term = s.term
  JOIN dl ON dl.doc_id = tf2.doc_id
  CROSS JOIN stats st
  GROUP BY 1, 2
)
SELECT query_id, rank, doc_id, score_q FROM (
  SELECT w.query_id, w.doc_id, floor(w.score * 1e9)::BIGINT AS score_q,
         row_number() OVER (
           PARTITION BY w.query_id
           ORDER BY floor(w.score * 1e9) DESC, w.doc_id ASC
         )::INT AS rank
  FROM wscored w
  WHERE NOT EXISTS (SELECT 1 FROM src
                    WHERE src.query_id = w.query_id
                      AND src.doc_id = w.doc_id)
) r WHERE rank <= {TOPK}
ORDER BY query_id, rank
"""
)


_WAND_MW_SQL = (
    _PRELUDE
    + """
SELECT v.term_id, count(*)::BIGINT AS df,
       floor(max(
         tf.tf / (tf.tf + 1.2 * (0.5 + 0.5 * (dl.len / s.avg_len)))
       ) * 1e9)::BIGINT AS max_weight_q
FROM tf
JOIN vocab v ON tf.term = v.term
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN stats s
GROUP BY 1
ORDER BY 1
"""
)


def oracle_sql() -> dict[str, str]:
    o = {
        "term_stats": _PRELUDE
        + """
SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS total_tf
FROM tf GROUP BY term ORDER BY term
""",
        "doclens": _PRELUDE + "SELECT doc_id, len FROM dl ORDER BY doc_id",
        "vocab_term_ids": _PRELUDE
        + "SELECT term_id, term, df FROM vocab ORDER BY term_id",
        "postings_build": _POSTINGS_SQL,
        "dint_roundtrip": _POSTINGS_SQL,
        "dint_roundtrip_multi": _POSTINGS_SQL,
        "dint_roundtrip_pdf": _POSTINGS_SQL,
        "dint_roundtrip_chunked": _POSTINGS_SQL,
        "bm25_bmw_chunked": _topk_or_sql(),
        "bm25_bmw_sharded": _topk_or_sql(),
        "bm25_ranked_or": _topk_or_sql(),
        "bm25_wand": _topk_or_sql(),
        "bm25_block_max_wand": _topk_or_sql(),
        "bm25_block_max_wand_vec": _topk_or_sql(),
        "bm25_maxscore": _topk_or_sql(),
        "bm25_ranked_and": _topk_and_sql(),
        "boolean_and": _BOOL_AND_SQL,
        "boolean_or": _BOOL_OR_SQL,
        "boolean_and_not": _BOOL_ANDNOT_SQL,
        "search_facets": _FACETS_SQL,
        "search_multi_terms": _MULTI_TERMS_SQL,
        "search_facets_range": _FACETS_RANGE_SQL,
        "search_rank_eval": _rank_eval_oracle(),
        "term_vectors": _term_vectors_sql(),
        "search_stats": _STATS_SQL,
        "search_extended_stats": _XSTATS_SQL,
        "search_percentiles": _PCT_SQL,
        "search_boosted": _BOOSTED_SQL,
        "search_decay": _decay_sql(),
        "search_cardinality": _cardinality_sql(),
        "search_terms_set": _terms_set_sql(),
        "search_boosting": _boosting_sql(),
        "search_pinned": _pinned_sql(),
        "search_rank_feature": _rank_feature_sql(),
        "search_geo_bbox": _geo_bbox_sql(),
        "search_geo_distance": _geo_distance_sql(),
        "search_geo_radius": _geo_radius_sql(),
        "search_geo_rings": _geo_rings_sql(),
        "search_nested_sum": _nested_sql("sum", 1),
        "search_nested_max": _nested_sql("max", NESTED_MINC),
        "search_has_parent": _has_parent_sql(),
        "percolate_docs": _percolate_sql(),
        "search_explain": _EXPLAIN_SQL,
        "search_analyzed": _analyzed_sql(),
        "search_reindexed": _analyzed_sql(),
        "search_sort_by_field": _SORT_FIELD_SQL,
        "search_sort_by_keyword": _SORT_KEYWORD_SQL,
        "search_collapse": _COLLAPSE_SQL,
        "search_inner_hits": _INNER_HITS_SQL,
        "search_page2": _PAGE2_SQL,
        "search_bool_dsl": _bool_dsl_sql(),
        "search_query_string": _query_string_sql(),
        "search_multi_match": _multi_match_sql(),
        "search_rerank": _RERANK_SQL,
        "search_hybrid_rrf": _HYBRID_SQL,
        "suggest_spelling": _SUGGEST_SQL,
        "suggest_spelling2": _suggest2_sql(),
        "suggest_phrase": _phrase_suggest_sql(),
        "significant_terms": _SIG_SQL,
        "search_more_like_this": _MLT_SQL,
        # same full-corpus SQL as search_text: the appended two-epoch index
        # must reproduce the one-shot build's ranking exactly
        "bm25_appended": _topk_or_sql(scored=_text_scored()),
        "lmdir_ranked": _topk_or_sql(scored=_lm_scored()),
        "search_rm3": _rm3_sql(),
        "search_synonyms": _synonyms_sql(),
        "wand_max_weights": _WAND_MW_SQL,
        "phrase_match": _PHRASE_SQL,
        "phrase_prefix": _phrase_prefix_sql(),
        "phrase_ranked": _PHRASE_RANKED_SQL,
        "search_text": _topk_or_sql(scored=_text_scored()),
        "search_prefix": _topk_or_sql(scored=_prefix_scored()),
        "search_fuzzy": _topk_or_sql(scored=_fuzzy_scored()),
        "search_regexp": _topk_or_sql(scored=_regex_scored()),
        "search_regexp_trigram": _topk_or_sql(
            scored=_regex_scored(REGEX_TRI_SPECS)),
        "suggest_complete": _complete_sql(),
        "proximity_within": _PROX_SQL,
        # tombstoned: stats CTEs over the FULL corpus, candidates filtered
        "bm25_with_deletes": _topk_or_sql(
            scored=_scored_cte("WHERE tf.doc_id % 7 <> 3")),
        # filtered search: same stale-stats shape, metadata predicate
        "bm25_filtered": _topk_or_sql(
            scored=_scored_cte(f"WHERE dl.len >= {FILTER_LEN_T}")),
        # sharded fan-out of the same filter == the unsharded filtered run
        "bm25_filtered_sharded": _topk_or_sql(
            scored=_scored_cte(f"WHERE dl.len >= {FILTER_LEN_T}")),
        # merged halves == one-shot build -> the standard full-corpus SQL
        "bm25_merged": _topk_or_sql(),
        # compacted: every CTE over the surviving corpus, ids re-ranked
        "bm25_after_compact": _topk_or_sql(prelude=_PRELUDE_LIVE),
        "kwic_snippets": _KWIC_SQL,
        "search_highlight": _highlight_sql(),
        "search_span_near": _span_near_sql(),
        "search_span_unordered": _span_unordered_sql(),
    }
    from dint_spark.ops import entries as ops_entries

    o.update(ops_entries.oracle_sqls())
    return o
