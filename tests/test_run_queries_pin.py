"""run_queries on the handle's pinned segments vs the shuffle fallback.

run_queries pins the index's segments executor-side once per handle and
runs every call against them; an index over PIN_BUDGET_BYTES takes the
join -> repartition -> applyInPandas fallback. Both must return the same
rows bit for bit, statistics, filters and tombstones being per-call
inputs of the pinned path."""

from __future__ import annotations

import shutil
import threading

import numpy as np
import pytest

from dint_spark import queries as Q
from dint_spark.corpus import generate_pages
from dint_spark.index import IndexConfig, build_index, delete_docs, load_index
from dint_spark.queries import DocMask, run_queries

N_DOCS = 400


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pin") / "idx")
    shutil.rmtree(d, ignore_errors=True)
    # small seg_chunk: head terms split into several segment rows, so the
    # chunk-merge of ranked_and runs on both paths
    idx = build_index(spark, generate_pages(spark, N_DOCS, seed=23), d,
                      IndexConfig(num_buckets=2, input_tag="pin",
                                  seg_chunk=64, skew_chunk=32))
    vocab = idx.vocab().toPandas().sort_values("term_id")
    tids = vocab["term_id"].tolist()
    rng = np.random.default_rng(31)
    queries = [[int(t) for t in rng.choice(tids[:300],
                                           size=int(rng.integers(1, 6)))]
               for _ in range(30)]
    queries += [[tids[0], tids[0], tids[3]], [], [10**9, tids[1]]]
    return d, idx, queries, dict(zip(vocab["term_id"], vocab["df"]))


def _rows(df):
    return sorted(tuple(r) for r in
                  df.select("query_id", "rank", "doc_id", "score").collect())


def _fallback_handle(spark, d, monkeypatch):
    """A fresh handle whose pin pre-check failed (budget 0)."""
    monkeypatch.setattr(Q, "PIN_BUDGET_BYTES", 0)
    fb = load_index(spark, d)
    assert Q._index_pin(spark, fb) is None
    return fb


def _cases(idx, queries, df):
    terms = sorted({t for q in queries for t in q if t in df})
    rng = np.random.default_rng(5)
    weighted = [[(t, float(w)) for t, w in
                 zip(q, rng.uniform(0.1, 2.0, size=len(q)))]
                for q in queries]
    mask = np.random.default_rng(7).random(idx.num_docs) < 0.6
    return {
        "block_max_wand": dict(algo="block_max_wand"),
        "block_max_wand_vec": dict(algo="block_max_wand_vec"),
        "wand": dict(algo="wand"),
        "maxscore": dict(algo="maxscore"),
        "ranked_and": dict(algo="ranked_and"),
        "weighted": dict(algo="block_max_wand_vec", weighted=True,
                         queries=weighted),
        "global_stats": dict(
            algo="block_max_wand",
            df_overrides={t: 3 * int(df[t]) for t in terms},
            idf_docs=3 * idx.num_docs,
            avg_len_override=1.25 * idx.avg_len_f64),
        "global_stats_f64": dict(
            algo="maxscore", dtype="float64",
            df_overrides={t: 2 * int(df[t]) for t in terms},
            idf_docs=2 * idx.num_docs,
            avg_len_override=0.8 * idx.avg_len_f64),
        "doc_filter": dict(algo="block_max_wand_vec",
                           doc_filter=DocMask.from_mask(mask)),
    }


CASES = ["block_max_wand", "block_max_wand_vec", "wand", "maxscore",
         "ranked_and", "weighted", "global_stats", "global_stats_f64",
         "doc_filter"]


@pytest.mark.parametrize("case", CASES)
def test_pinned_matches_fallback(spark, built, monkeypatch, case):
    d, idx, queries, df = built
    kw = dict(_cases(idx, queries, df)[case])
    qs = kw.pop("queries", queries)
    pinned = run_queries(spark, idx, qs, k=10, **kw)
    assert Q._index_pin(spark, idx) is not None
    fb = _fallback_handle(spark, d, monkeypatch)
    fallback = run_queries(spark, fb, qs, k=10, **kw)
    a, b = _rows(pinned), _rows(fallback)
    assert a, "the batch must return rows"
    assert a == b


def test_pinned_plan_has_no_exchange(spark, built, monkeypatch):
    """The pinned call is one mapInPandas over a range: no scan, no
    exchange, no grouped applyInPandas — those stay in the fallback."""
    d, idx, queries, _ = built
    plan = run_queries(spark, idx, queries)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan and "FlatMapGroupsInPandas" not in plan
    fb = _fallback_handle(spark, d, monkeypatch)
    plan = run_queries(spark, fb, queries)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan and "Exchange" in plan


def test_concurrent_calls_leave_session_conf(spark, built, monkeypatch):
    """Two threads with different batch sizes, on a fresh handle whose
    pin they race to build: each result equals its single-threaded run,
    the handle pins once, and no session conf changes."""
    d, idx, queries, _ = built
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    batches = [queries[:3], queries[3:]]
    want = [_rows(run_queries(spark, idx, b, algo="block_max_wand_vec"))
            for b in batches]
    h = load_index(spark, d)
    collect = Q._collect_segments
    pins: list = []
    monkeypatch.setattr(Q, "_collect_segments",
                        lambda *a: pins.append(1) or collect(*a))
    got: dict = {}
    errors: list = []

    def client(i):
        try:
            got[i] = [_rows(run_queries(spark, h, batches[i],
                                        algo="block_max_wand_vec"))
                      for _ in range(3)]
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(i,)) for i in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors
    assert len(pins) == 1
    for i in (0, 1):
        assert got[i] == [want[i]] * 3
    assert spark.conf.get(key) == before


def test_tombstones_read_per_call(spark, built, tmp_path):
    """delete_docs on a handle whose pin is built: the next run_queries
    on that same handle excludes the newly deleted docs."""
    d, _, queries, _ = built
    copy = str(tmp_path / "idx")
    shutil.copytree(d, copy)
    h = load_index(spark, copy)
    first = _rows(run_queries(spark, h, queries))
    assert Q._index_pin(spark, h) is not None
    gone = sorted({doc for _, rank, doc, _ in first if rank <= 2})
    assert delete_docs(spark, h, gone) == len(gone)
    again = _rows(run_queries(spark, h, queries))
    assert not {doc for _, _, doc, _ in again} & set(gone)
    # equal to a handle that pins after the delete
    assert again == _rows(run_queries(spark, load_index(spark, copy),
                                      queries))
