"""Bounded per-term segment rows (round-2): a head term forced over
seg_chunk splits into multiple disjoint doc-range rows; every query path
must return results identical to the single-row build.

Chunk-cursor composition argument (queries._cursors): union-style
kernels see one cursor per chunk — a doc matches at most one chunk, so
per-doc float32 accumulation order is unchanged; intersection kernels
join a term's chunks into one list (queries._term_lists)."""

import shutil

import pytest

from dint_spark import queries as Q
from fixtures import PAST_CEILING
from dint_spark.corpus import generate_pages
from dint_spark.index import IndexConfig, build_index
from dint_spark.queries import (
    BroadcastQueryServer,
    decoded_postings,
    run_boolean_queries,
    run_queries,
)

N_DOCS = 400


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("chunked")
    pages = generate_pages(spark, N_DOCS, seed=7)
    d1 = str(base / "ref")
    d2 = str(base / "chunk")
    shutil.rmtree(d1, ignore_errors=True)
    shutil.rmtree(d2, ignore_errors=True)
    idx1 = build_index(spark, pages, d1,
                       IndexConfig(num_buckets=2, input_tag="ref"))
    idx2 = build_index(
        spark, pages, d2,
        IndexConfig(num_buckets=2, input_tag="chunk", seg_chunk=64,
                    skew_chunk=32),
    )
    multi = idx2.segments.groupBy("term_id").count().where("count > 1").count()
    assert multi > 0, "head terms did not chunk"
    tid = idx1.vocab().toPandas().sort_values("term_id")["term_id"].tolist()
    queries = [[tid[0]], [tid[0], tid[5]], [tid[1], tid[2], tid[3]],
               [tid[2], tid[2], tid[7]], [tid[0], tid[40], tid[200]]]
    return idx1, idx2, queries


def _pdf(df, keys):
    return df.toPandas().sort_values(keys).reset_index(drop=True)


def _pin_pruned(monkeypatch, algo: str) -> str:
    """``algo``, with "bmw_pruned" run as block_max_wand_vec past the
    dense ceiling (its compaction path), so that path sees chunk cursors:
    several disjoint parts per term. The kernel is looked up on the
    driver and ships by value."""
    if algo != "bmw_pruned":
        return algo
    monkeypatch.setitem(Q.KERNELS, "block_max_wand_vec", PAST_CEILING)
    return "block_max_wand_vec"


def test_chunked_decode_identical(pair):
    idx1, idx2, _ = pair
    k = ["term_id", "doc_id"]
    assert _pdf(decoded_postings(idx1), k).equals(_pdf(decoded_postings(idx2), k))


@pytest.mark.parametrize("algo", [
    "ranked_or", "ranked_or_vec", "wand", "block_max_wand",
    "block_max_wand_vec", "bmw_pruned", "maxscore", "ranked_and"])
def test_chunked_topk_identical(pair, algo, monkeypatch):
    algo = _pin_pruned(monkeypatch, algo)
    idx1, idx2, queries = pair
    k = ["query_id", "rank"]
    spark = idx1.spark
    r1 = _pdf(run_queries(spark, idx1, queries, algo=algo, k=10), k)
    r2 = _pdf(run_queries(spark, idx2, queries, algo=algo, k=10), k)
    assert r1.equals(r2)


@pytest.mark.parametrize("mode", ["and", "or"])
def test_chunked_boolean_identical(pair, mode):
    idx1, idx2, queries = pair
    k = ["query_id", "doc_id"]
    spark = idx1.spark
    assert _pdf(run_boolean_queries(spark, idx1, queries, mode=mode), k).equals(
        _pdf(run_boolean_queries(spark, idx2, queries, mode=mode), k))


def test_chunked_broadcast_identical(pair, monkeypatch):
    idx1, idx2, queries = pair
    k = ["query_id", "rank"]
    spark = idx1.spark
    srv = BroadcastQueryServer(
        spark, idx2, terms=sorted({t for ts in queries for t in ts}))
    r1 = _pdf(run_queries(spark, idx1, queries, algo="ranked_or", k=10), k)
    for algo in ("block_max_wand_vec", "bmw_pruned"):
        with monkeypatch.context() as mp:
            rb = _pdf(srv.serve(queries, algo=_pin_pruned(mp, algo), k=10), k)
        assert rb.equals(r1), algo
