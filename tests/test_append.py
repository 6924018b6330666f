"""Incremental document append (sharding.append_docs): adding an epoch to
a sharded index must reproduce a FRESH full build over the union corpus —
bit-identical top-k (doc ids AND float scores) — even though old epochs
baked pre-append statistics (avg_len, vocabulary dfs) into their norms and
pruning metadata.

The corpus is split BY URL RANK so a fresh full build assigns the same
dense doc ids the append does (assign_doc_ids = url rank: old batch =
urls below the pivot, appended batch = the rest). The appended half's
text is doubled and salted with a term that exists nowhere in the old
epoch, so the append raises the global avg_len (old epochs' stored norms
go stale and must be re-derived from raw lens) and extends the
vocabulary.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from dint_spark.corpus import generate_pages
from dint_spark.index import IndexConfig, build_index, delete_docs
from dint_spark import queries
from dint_spark.queries import build_doc_filter, run_queries
from fixtures import PAST_CEILING
from dint_spark.sharding import (append_docs, build_doc_filters_sharded,
                                 build_sharded_index, delete_docs_sharded,
                                 run_queries_sharded)

N_DOCS = 420
PIVOT = 260  # url-rank split: old epoch = 260 docs, appended = 160
NEW_TERM = "zzzappendonly"


def _split_pages(spark, n, pivot, seed, grow="new"):
    """One corpus, split at the url-rank pivot. grow='new' doubles the
    APPENDED half's text (global avg_len rises on append); grow='old'
    doubles the OLD half (avg_len falls). Either way the old epoch's
    norms are re-derived. The appended half always gains
    NEW_TERM, absent from the old epoch."""
    pages = generate_pages(spark, n, seed=seed)
    urls = [r["url"] for r in
            pages.select("url").orderBy("url").limit(pivot + 1).collect()]
    pivot_url = urls[pivot]
    grown = F.concat_ws(" ", "text", "text")
    if grow == "new":
        text = F.when(F.col("url") >= pivot_url,
                      F.concat_ws(" ", grown, F.lit(NEW_TERM))
                      ).otherwise(F.col("text"))
    else:
        text = F.when(F.col("url") < pivot_url, grown).otherwise(
            F.concat_ws(" ", "text", F.lit(NEW_TERM)))
    full = pages.withColumn("text", text)
    return (full, full.where(F.col("url") < pivot_url),
            full.where(F.col("url") >= pivot_url))


def _tid_map(index, terms):
    rows = (index.vocab().where(F.col("term").isin(list(terms)))
            .select("term", "term_id").collect())
    return {r["term"]: int(r["term_id"]) for r in rows}


def _term_queries(idx_full):
    """Query workloads as TERM STRINGS (the two indexes rank their
    vocabularies differently, so term ids do not transfer)."""
    vp = idx_full.vocab().orderBy("term_id").limit(300).toPandas()
    t = vp["term"].tolist()
    tail = t[min(len(t) - 1, 250)]
    mid = t[min(len(t) - 2, 40)]
    return [
        [t[0]],
        [t[0], t[5]],
        [t[1], t[2], t[3]],
        [t[2], t[2], t[7]],
        [t[0], mid, tail],
        [NEW_TERM],
        [t[4], NEW_TERM],
    ]


def _resolve(index, term_queries):
    tid = _tid_map(index, {t for q in term_queries for t in q})
    return [[tid[t] for t in q] for q in term_queries]


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("append")
    full, old, new = _split_pages(spark, N_DOCS, PIVOT, seed=23, grow="new")
    cfg = IndexConfig(num_buckets=2, input_tag="append")
    d_full = str(base / "full")
    d_app = str(base / "appended")
    shutil.rmtree(d_full, ignore_errors=True)
    shutil.rmtree(d_app, ignore_errors=True)
    idx_full = build_index(spark, full, d_full, cfg)
    sidx = build_sharded_index(spark, old, d_app, num_shards=1, config=cfg)
    avg_before = sidx.avg_len_f64
    sidx = append_docs(spark, sidx, new)
    return idx_full, sidx, avg_before, _term_queries(idx_full)


def _pdf(df, keys=("query_id", "rank")):
    return df.toPandas().sort_values(list(keys)).reset_index(drop=True)


def test_append_layout(appended):
    idx_full, sidx, avg_before, _ = appended
    assert len(sidx.shards) == 2
    assert sidx.bases == [0, PIVOT, N_DOCS]
    assert sidx.num_docs == N_DOCS
    # the appended (doubled) docs must RAISE the global average, and the
    # global value
    # must equal the fresh full build's exactly
    assert sidx.avg_len_f64 > avg_before
    assert sidx.avg_len_f64 == idx_full.avg_len_f64
    # old epoch still carries its pre-append baked average
    assert sidx.shards[0].avg_len_f64 == pytest.approx(avg_before)
    assert sidx.shards[1].avg_len_f64 == sidx.avg_len_f64
    assert sidx.manifest["vocab_file"] == "vocab_v1.parquet"


def test_vocab_extends_not_reranks(appended):
    idx_full, sidx, _, _ = appended
    old_vocab = sidx.shards[0].vocab().toPandas()
    new_vocab = sidx.vocab().toPandas()
    m = old_vocab.merge(new_vocab, on="term", suffixes=("_old", "_new"))
    # every pre-append term keeps its id; dfs only grow
    assert (m["term_id_old"] == m["term_id_new"]).all()
    assert (m["df_new"] >= m["df_old"]).all()
    # global dfs equal the fresh build's (by term string)
    f = idx_full.vocab().toPandas().merge(
        new_vocab, on="term", suffixes=("_full", "_app"))
    assert len(f) == len(new_vocab)
    assert (f["df_full"] == f["df_app"]).all()
    # the append-only term exists, with an id past the old vocabulary
    row = new_vocab[new_vocab["term"] == NEW_TERM]
    assert len(row) == 1
    assert int(row["term_id"].iloc[0]) >= len(old_vocab)


def _pin_pruned(monkeypatch, algo: str) -> str:
    """``algo``, with "bmw_pruned" run as block_max_wand_vec past the
    dense ceiling (its compaction path): block_max_wand_vec scores these
    small indexes densely otherwise. The kernel is looked up on the
    driver and ships by value."""
    if algo != "bmw_pruned":
        return algo
    monkeypatch.setitem(queries.KERNELS, "block_max_wand_vec", PAST_CEILING)
    return "block_max_wand_vec"


@pytest.mark.parametrize("algo", ["ranked_or", "block_max_wand",
                                  "block_max_wand_vec", "bmw_pruned",
                                  "maxscore"])
@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_append_topk_identical(appended, algo, dtype, monkeypatch):
    algo = _pin_pruned(monkeypatch, algo)
    idx_full, sidx, _, tq = appended
    spark = idx_full.spark
    r1 = _pdf(run_queries(spark, idx_full, _resolve(idx_full, tq),
                          algo=algo, k=10, dtype=dtype))
    r2 = _pdf(run_queries_sharded(spark, sidx, _resolve(sidx, tq),
                                  algo=algo, k=10, dtype=dtype))
    assert r1.equals(r2)


def test_append_shrink_direction(spark, tmp_path):
    """avg_len FALLS on append (old docs were the long ones): the old
    epoch's norms re-derive the other way, and results still match the
    fresh build exactly."""
    full, old, new = _split_pages(spark, 240, 150, seed=31, grow="old")
    cfg = IndexConfig(num_buckets=2, input_tag="shrink")
    idx_full = build_index(spark, full, str(tmp_path / "full"), cfg)
    sidx = build_sharded_index(spark, old, str(tmp_path / "app"),
                               num_shards=1, config=cfg)
    avg_before = sidx.avg_len_f64
    sidx = append_docs(spark, sidx, new)
    assert sidx.avg_len_f64 < avg_before
    tq = _term_queries(idx_full)[:5] + [[NEW_TERM]]
    r1 = _pdf(run_queries(spark, idx_full, _resolve(idx_full, tq),
                          algo="block_max_wand", k=10))
    r2 = _pdf(run_queries_sharded(spark, sidx, _resolve(sidx, tq),
                                  algo="block_max_wand", k=10))
    assert r1.equals(r2)


def test_double_append(spark, tmp_path):
    """Two sequential appends == one fresh build over the 3-epoch union;
    the second append must re-derive norms for BOTH earlier epochs."""
    full, old, new = _split_pages(spark, 300, 120, seed=47, grow="new")
    urls = [r["url"] for r in new.select("url").orderBy("url")
            .limit(100).collect()]
    cut = urls[99 + 1 - 1]  # 100th url of the appended half
    new1 = new.where(F.col("url") <= cut)
    new2 = new.where(F.col("url") > cut)
    cfg = IndexConfig(num_buckets=2, input_tag="dbl")
    idx_full = build_index(spark, full, str(tmp_path / "full"), cfg)
    sidx = build_sharded_index(spark, old, str(tmp_path / "app"),
                               num_shards=1, config=cfg)
    sidx = append_docs(spark, sidx, new1)
    sidx = append_docs(spark, sidx, new2)
    assert len(sidx.shards) == 3
    assert sidx.num_docs == 300
    tq = _term_queries(idx_full)
    for dtype in ("float32", "float64"):
        r1 = _pdf(run_queries(spark, idx_full, _resolve(idx_full, tq),
                              algo="block_max_wand_vec", k=10, dtype=dtype))
        r2 = _pdf(run_queries_sharded(spark, sidx, _resolve(sidx, tq),
                                      algo="block_max_wand_vec", k=10,
                                      dtype=dtype))
        assert r1.equals(r2)


def test_append_then_delete(spark, tmp_path):
    """Tombstones spanning both epochs compose with append: equal to the
    fresh full build carrying the same global tombstones."""
    full, old, new = _split_pages(spark, 240, 150, seed=53, grow="new")
    cfg = IndexConfig(num_buckets=2, input_tag="appdel")
    idx_full = build_index(spark, full, str(tmp_path / "full"), cfg)
    sidx = build_sharded_index(spark, old, str(tmp_path / "app"),
                               num_shards=1, config=cfg)
    sidx = append_docs(spark, sidx, new)
    tq = _term_queries(idx_full)
    qf = _resolve(idx_full, tq)
    qa = _resolve(sidx, tq)
    # delete the full build's top hits so the tombstones bite, from BOTH
    # sides of the epoch boundary
    top = run_queries(spark, idx_full, qf, k=5).toPandas()
    doomed = sorted(set(top["doc_id"].tolist()[:6]) | {0, 239})
    delete_docs(spark, idx_full, doomed)
    delete_docs_sharded(spark, sidx, doomed)
    r1 = _pdf(run_queries(spark, idx_full, qf, algo="maxscore", k=10))
    r2 = _pdf(run_queries_sharded(spark, sidx, qa, algo="maxscore", k=10))
    assert r1.equals(r2)
    assert not set(r1["doc_id"]) & set(doomed)


def test_filters_after_append(appended):
    """DocMask routing over VARIABLE-WIDTH epochs (the non-uniform bases
    path of build_doc_filters_sharded): filtered results match the fresh
    full build under the same global allowlist."""
    idx_full, sidx, _, tq = appended
    spark = idx_full.spark
    allowed = spark.range(0, N_DOCS, 3).select(F.col("id").alias("doc_id"))
    m_full = build_doc_filter(spark, allowed, idx_full.num_docs)
    m_shards = build_doc_filters_sharded(spark, sidx, allowed)
    r1 = _pdf(run_queries(spark, idx_full, _resolve(idx_full, tq),
                          k=10, doc_filter=m_full))
    r2 = _pdf(run_queries_sharded(spark, sidx, _resolve(sidx, tq),
                                  k=10, doc_filters=m_shards))
    assert r1.equals(r2)
    assert (r1["doc_id"] % 3 == 0).all()


@pytest.mark.parametrize("dtype", ["float32", "float64"])
def test_sharded_server_over_epochs(appended, dtype, monkeypatch):
    """ShardedQueryServer (pinned per-epoch serving): global df from the
    summed pinned posting counts, N from the manifest, pre-append epoch
    norms re-pinned under the post-append average — served results equal
    the fresh full build bit-for-bit."""
    from dint_spark.sharding import ShardedQueryServer

    idx_full, sidx, _, tq = appended
    spark = idx_full.spark
    srv = ShardedQueryServer(spark, sidx, dtype=dtype)
    for algo in ("block_max_wand_vec", "bmw_pruned", "maxscore"):
        with monkeypatch.context() as mp:
            algo = _pin_pruned(mp, algo)
            r1 = _pdf(run_queries(spark, idx_full, _resolve(idx_full, tq),
                                  algo=algo, k=10, dtype=dtype))
            r2 = _pdf(srv.serve(_resolve(sidx, tq), algo=algo, k=10))
        assert r1.equals(r2)


def test_sharded_server_filtered(appended):
    from dint_spark.sharding import ShardedQueryServer

    idx_full, sidx, _, tq = appended
    spark = idx_full.spark
    allowed = spark.range(0, N_DOCS, 2).select(F.col("id").alias("doc_id"))
    m_full = build_doc_filter(spark, allowed, idx_full.num_docs)
    m_shards = build_doc_filters_sharded(spark, sidx, allowed)
    srv = ShardedQueryServer(spark, sidx)
    r1 = _pdf(run_queries(spark, idx_full, _resolve(idx_full, tq),
                          algo="block_max_wand_vec", k=10,
                          doc_filter=m_full))
    r2 = _pdf(srv.serve(_resolve(sidx, tq), k=10, doc_filters=m_shards))
    assert r1.equals(r2)
    assert (r1["doc_id"] % 2 == 0).all()


def test_append_positional_phrases(spark, tmp_path):
    """Appending to a POSITIONAL index: the epoch shard inherits the base
    config (positions=True) and exact-phrase retrieval across epochs
    equals the fresh full positional build (phrase matching needs no
    global stats — the fan-out is a plain union)."""
    from dint_spark.queries import run_phrase_queries
    from dint_spark.sharding import run_phrase_queries_sharded

    full, old, new = _split_pages(spark, 240, 150, seed=61, grow="new")
    cfg = IndexConfig(num_buckets=2, input_tag="apppos", positions=True)
    idx_full = build_index(spark, full, str(tmp_path / "full"), cfg)
    sidx = build_sharded_index(spark, old, str(tmp_path / "app"),
                               num_shards=1, config=cfg)
    sidx = append_docs(spark, sidx, new)
    assert sidx.shards[1].has_positions
    # phrases as term-id pairs resolved per index by term string; include
    # one containing the append-only term
    vp = idx_full.vocab().orderBy("term_id").limit(40).toPandas()
    words = vp["term"].tolist()
    phrases = [[words[0], words[1]], [words[2], words[0]],
               [NEW_TERM], [words[3], NEW_TERM]]
    tf = _tid_map(idx_full, {w for p in phrases for w in p})
    ta = _tid_map(sidx, {w for p in phrases for w in p})
    pf = [[tf[w] for w in p] for p in phrases]
    pa = [[ta[w] for w in p] for p in phrases]
    keys = ("query_id", "doc_id")
    r1 = _pdf(run_phrase_queries(spark, idx_full, pf), keys)
    r2 = _pdf(run_phrase_queries_sharded(spark, sidx, pa), keys)
    assert r1.equals(r2)
    assert (r1.groupby("query_id").size().get(2, 0)) > 0  # NEW_TERM hits


def test_append_empty_is_noop(appended):
    _, sidx, _, _ = appended
    spark = sidx.spark
    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, "
            "text string, lang string")
    out = append_docs(spark, sidx, empty)
    assert out is sidx
    assert len(sidx.shards) == 2


def test_append_to_pre_ttf_index(spark, tmp_path):
    """ADVICE r3: append_docs must accept an index whose vocabulary
    predates ttf metadata (pre-ttf layouts exist on disk, e.g. the 1M
    gate index). Simulate one by stripping the ttf column from the
    sharded vocab parquet; the backfill (index.vocab_ensure_ttf)
    recomputes ttf exactly from the postings checkpoint, so the
    post-append vocabulary and top-k match a fresh full build."""
    full, old, new = _split_pages(spark, 160, 90, seed=31, grow="new")
    cfg = IndexConfig(num_buckets=2, input_tag="prettf")
    d_app, d_full = str(tmp_path / "app"), str(tmp_path / "full")
    sidx = build_sharded_index(spark, old, d_app, num_shards=1, config=cfg)
    # strip ttf: rewrite the manifest-pointed vocab file without it
    import os
    vf = os.path.join(d_app, sidx.manifest.get("vocab_file",
                                               "vocab.parquet"))
    stripped = spark.read.parquet(vf).drop("ttf").toPandas()
    shutil.rmtree(vf, ignore_errors=True)
    spark.createDataFrame(stripped).write.mode("overwrite").parquet(vf)
    from dint_spark.sharding import ShardedIndex
    sidx = ShardedIndex(spark, d_app)
    assert "ttf" not in sidx.vocab().columns
    sidx = append_docs(spark, sidx, new)
    idx_full = build_index(spark, full, d_full, cfg)
    fv = idx_full.vocab().toPandas()
    av = sidx.vocab().toPandas()
    m = fv.merge(av, on="term", suffixes=("_full", "_app"))
    assert len(m) == len(fv) == len(av)
    assert (m["df_full"] == m["df_app"]).all()
    assert (m["ttf_full"] == m["ttf_app"]).all()
    tq = _term_queries(idx_full)
    r1 = _pdf(run_queries(spark, idx_full, _resolve(idx_full, tq), k=10))
    r2 = _pdf(run_queries_sharded(spark, sidx, _resolve(sidx, tq), k=10))
    assert r1.equals(r2)
